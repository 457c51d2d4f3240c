#!/usr/bin/env python3
"""Recomputes the dedup_pipeline reference results with DuckDB.

For each query of the workload, runs its ``SparkEntry.oracleSql`` in
DuckDB over the generated ``documents`` table and stores the rows as TSV
under ``perfbench/ref/dedup``, with ``meta.tsv`` recording the input
digest and a SHA-256 of each SQL text. The benchmark fails a query whose
stored reference no longer matches its input or SQL, so run this after
changing either (the near-duplicate oracles are all-pairs: minutes).

Run from the root of a checkout:  python3 perfbench/make_ref.py
"""
import hashlib
import shutil
import sys
from pathlib import Path

import duckdb

HERE = Path(__file__).resolve().parent
sys.dont_write_bytecode = True  # the benchmark writes only under .bench_build
sys.path.insert(0, str(HERE))
import build  # noqa: E402
import run  # noqa: E402

QUERIES = ("q12_exact_dedup", "q14_minhash_pairs", "q76_prefix_ssjoin",
           "q79_dup_spans", "q37_dup_clusters")


def cell(v) -> str:
    """Cell text shared with Reference.cell on the JVM side."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, str):
        return v.replace("\\", "\\\\").replace("\t", "\\t").replace("\n", "\\n")
    return repr(v) if isinstance(v, float) else str(v)


def main() -> int:
    root = Path.cwd()
    classes = build.build(root)
    work = root / ".bench_build" / "make_ref"
    shutil.rmtree(work, ignore_errors=True)
    try:
        if run.jvm(classes, "graft.perfbench.RefInputs", [str(work)], work, 600) != 0:
            print("make_ref: writing the inputs failed", file=sys.stderr)
            return 1
        con = duckdb.connect()
        con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet("
                    f"'{work / 'documents.parquet'}/*.parquet')")
        out = HERE / "ref" / "dedup"
        out.mkdir(parents=True, exist_ok=True)
        meta = [("docs_sha256", (work / "docs_sha256").read_text())]
        for q in QUERIES:
            sql = (work / f"{q}.sql").read_text(encoding="utf-8")
            rows = con.execute(sql).fetchall()
            cols = [d[0] for d in con.description]
            lines = ["\t".join(cols)] + ["\t".join(cell(v) for v in r) for r in rows]
            (out / f"{q}.tsv").write_text("\n".join(lines) + "\n", encoding="utf-8")
            meta.append((q, hashlib.sha256(sql.encode("utf-8")).hexdigest()))
            print(f"make_ref: {q}: {len(rows)} rows", file=sys.stderr)
        (out / "meta.tsv").write_text("".join(f"{k}\t{v}\n" for k, v in meta))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
