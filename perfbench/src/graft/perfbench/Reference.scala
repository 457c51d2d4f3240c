package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{DoubleType, FloatType, StructType}
import scala.jdk.CollectionConverters._

/**
 * A query's reference result: the DuckDB output of its
 * `SparkEntry.oracleSql` over the generated documents, stored as TSV by
 * `make_ref.py`. A reference is valid only for the input digest and the
 * oracle SQL text it was computed from; a stale one fails the check.
 *
 * Comparison is as multisets. Floating-point columns match within
 * `DedupPipeline.FloatTolerance` (absolute); every other column exactly.
 */
final class Reference(header: Seq[String],
                      rows: Seq[Seq[String]], stale: Option[String]) {

  def compare(schema: StructType, got: Seq[Row]): Seq[String] = stale match {
    case Some(why) => Seq(why)
    case None if schema.fieldNames.toSeq != header =>
      Seq(s"columns ${schema.fieldNames.mkString(",")} vs ${header.mkString(",")}")
    case None =>
      val floats = schema.fields.indices.filter(i =>
        schema(i).dataType == DoubleType || schema(i).dataType == FloatType).toSet
      def group(cells: Seq[Seq[String]]): Map[Seq[String], Seq[Seq[Double]]] =
        cells.groupBy(r => r.indices.filterNot(floats).map(r))
          .map { case (k, rs) =>
            k -> rs.map(r => floats.toSeq.sorted.map(i => r(i).toDouble))
              .sortBy(_.mkString(","))
          }
      val mine = group(got.map(r => r.toSeq.map(Reference.cell)))
      val want = group(rows)
      val keyDiff = (mine.keySet -- want.keySet).size + (want.keySet -- mine.keySet).size
      val valueDiff = want.count { case (k, ws) =>
        mine.get(k).exists(ms => ms.size != ws.size ||
          ms.zip(ws).exists { case (a, b) =>
            a.zip(b).exists { case (x, y) =>
              math.abs(x - y) > DedupPipeline.FloatTolerance }
          })
      }
      if (keyDiff == 0 && valueDiff == 0) Nil
      else Seq(s"${got.size} rows vs ${rows.size} reference rows " +
        s"($keyDiff keys differ, $valueDiff groups differ in count or value)")
  }
}

object Reference {
  /** Cell text shared with make_ref.py: NULL, true/false, numbers as
    * printed, strings with backslash, tab and newline escaped. */
  def cell(v: Any): String = v match {
    case null => "NULL"
    case s: String => s.replace("\\", "\\\\").replace("\t", "\\t").replace("\n", "\\n")
    case other => other.toString
  }

  def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
      .map(b => f"$b%02x").mkString

  /** Loads every query's reference from `dir`; `inputDigest` identifies
    * the documents the references must have been computed from. */
  def load(dir: Path, queries: Seq[String], inputDigest: String): Map[String, Reference] = {
    val meta = Files.readAllLines(dir.resolve("meta.tsv"), UTF_8).asScala
      .map(_.split("\t", 2)).collect { case Array(k, v) => k -> v }.toMap
    queries.map { q =>
      val sqlNow = sha256(graft.SparkEntry.oracleSql(q))
      val stale =
        if (!meta.get("docs_sha256").contains(inputDigest))
          Some("reference computed from other input documents; run make_ref.py")
        else if (!meta.get(q).contains(sqlNow))
          Some("oracle SQL changed since the reference was computed; run make_ref.py")
        else None
      val lines = Files.readAllLines(dir.resolve(s"$q.tsv"), UTF_8).asScala.toSeq
      q -> new Reference(lines.head.split("\t", -1).toSeq,
        lines.tail.map(_.split("\t", -1).toSeq), stale)
    }.toMap
  }
}

/** Writes what `make_ref.py` needs to recompute the dedup references: the
  * generated documents (as the benchmark writes them), each query's oracle
  * SQL and the input digest. Argument: the output directory. */
object RefInputs {
  def main(args: Array[String]): Unit = {
    val out = java.nio.file.Paths.get(args(0))
    val spark = Main.session(2, out)
    try {
      import spark.implicits._
      val docs = Inputs.documents(DedupPipeline.Docs, DedupPipeline.DocsSeed)
      docs.toDS.coalesce(1).write.parquet(out.resolve("documents.parquet").toString)
      Files.write(out.resolve("docs_sha256"), Inputs.docsDigest(docs).getBytes(UTF_8))
      DedupPipeline.Queries.foreach { q =>
        Files.write(out.resolve(s"$q.sql"), graft.SparkEntry.oracleSql(q).getBytes(UTF_8))
      }
    } finally spark.stop()
  }
}
