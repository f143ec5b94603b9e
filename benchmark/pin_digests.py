"""Re-pin the result digests the llm_pipeline workload checks against.

    python3 benchmark/pin_digests.py

Generates the corpus, runs each query of the workload twice
(a digest that differs between the two runs is reported and not
pinned), compares the result with the query's DuckDB oracle where it
has one, and writes ``benchmark/digests.json`` with the provenance of
each pin.
"""

from __future__ import annotations

import json
import os
import sys

import run as bench

import inputs


def _oracle_provenance(spark, name: str, data_dir: str) -> str:
    import duckdb

    from process_spark.oracle import compare_query
    from process_spark.queries import REGISTRY

    if REGISTRY[name].oracle is None:
        return "no DuckDB oracle; Spark result pinned"
    con = duckdb.connect()
    try:
        for table in ("documents", "embeddings"):
            path = os.path.join(data_dir, f"{table}.parquet")
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
        res = compare_query(spark, name, data_dir, con)
    except duckdb.Error as exc:
        return f"DuckDB oracle failed: {type(exc).__name__}"
    finally:
        con.close()
    if res.ok:
        return "matches its DuckDB oracle"
    return f"DIFFERS from its DuckDB oracle: {res.issues[:1]}"


def main() -> int:
    sys.path.insert(0, bench.ROOT)
    bench._prepare_env(len(os.sched_getaffinity(0)))
    from layers import stop_session

    from process_spark.queries import REGISTRY
    from process_spark.session import get_spark

    data_dir = os.path.join(bench.WORK, "corpus")
    inputs.write_corpus(data_dir)
    spark = get_spark("process-spark-benchmark-pins")
    pins, flapping = {}, []
    try:
        for name in bench.LLM_QUERIES:
            spec = REGISTRY[name]
            first = spec.fn(spark, data_dir).toPandas()
            digest = bench.result_digest(first)
            if bench.result_digest(spec.fn(spark, data_dir).toPandas()) != digest:
                flapping.append(name)
                continue
            pins[name] = {
                "digest": digest,
                "rows": len(first),
                "provenance": _oracle_provenance(spark, name, data_dir),
            }
            print(f"{name}: {digest[:16]} rows={len(first)} {pins[name]['provenance']}")
    finally:
        stop_session(spark)
    if flapping:
        print(f"error: digests differ between runs: {flapping}", file=sys.stderr)
        return 1
    doc = {
        "corpus": {
            "seed": inputs.CORPUS_SEED,
            "documents": inputs.N_DOCS,
            "embeddings": inputs.N_VECS,
            "dim": inputs.EMBED_DIM,
        },
        "digest": "sha256 of repr((sorted columns, process_spark.oracle._canon_frame(result)))",
        "queries": pins,
    }
    with open(os.path.join(bench.HERE, "digests.json"), "w") as f:
        json.dump(doc, f, indent=2)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
