"""Phase-level profile of retrieval_e2e_stored[_fixedq] (guide §1:
measure first). Times each internal phase with an explicit action so
the wall time of the registered query decomposes into named parts.

Usage: python scripts/profile_e2e.py [fixedq]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def main() -> None:
    from process_spark.operators.retrieval import (
        bm25_probe_postings,
        rrf_fuse,
        topk_ranked,
        write_postings_index,
    )
    from process_spark.queries._util import t
    from process_spark.queries.io_udf import _SCRATCH
    from process_spark.queries.retrieval import (
        _QF_FIXED,
        _Q_FILTER,
        _hybrid_qt,
        _mmr_pairs,
        _stored_ivf_knn,
        _unit_of,
        E2E_REL_SCALE,
    )
    from process_spark.operators.retrieval import mmr_rerank
    from process_spark.queries.vectors import _fixture_e2
    from process_spark.session import get_spark

    fixed = "fixedq" in sys.argv[1:]
    qf = _QF_FIXED if fixed else _Q_FILTER
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("profile-e2e")
    spark.range(1).count()

    marks: list[tuple[str, float]] = []
    t0 = time.perf_counter()

    def mark(label: str) -> None:
        nonlocal t0
        t1 = time.perf_counter()
        marks.append((label, t1 - t0))
        t0 = t1

    for rep in range(2):
        marks.clear()
        t0 = time.perf_counter()
        d = t(spark, sf_dir, "documents")
        e = t(spark, sf_dir, "embeddings")
        ppath = os.path.join(_SCRATCH, "profile_e2e_postings")
        spark.sparkContext.setJobDescription("e2e: postings write")
        write_postings_index(d, ppath, mode="overwrite")
        spark.catalog.refreshByPath(os.path.join(ppath, "data"))
        mark("write_postings_index")

        spark.sparkContext.setJobDescription("e2e: bm25 probe plan")
        lex_plan = bm25_probe_postings(spark, ppath, _hybrid_qt(d, e, qfilter=qf))
        mark("bm25_probe_postings (eager collects inside)")
        lex = topk_ranked(lex_plan, "score_e6", k=10).select(
            "query_id", "doc_id", "rank"
        )
        spark.sparkContext.setJobDescription("e2e: lex materialize")
        lex.write.format("noop").mode("overwrite").save()
        mark("lex channel noop-materialize")

        e2 = _fixture_e2(spark, sf_dir)
        spark.sparkContext.setJobDescription("e2e: ivf build+probe")
        knn = _stored_ivf_knn(spark, e2, "profile_e2e_ivf", k=10, qfilter=qf)
        mark("_stored_ivf_knn (build+write+probe-collect)")
        vec = knn.select(
            F.col("q_id").alias("query_id"),
            F.col("vec_id").alias("doc_id"),
            "rank",
        )
        spark.sparkContext.setJobDescription("e2e: vec materialize")
        vec.write.format("noop").mode("overwrite").save()
        mark("vec channel noop-materialize")

        pool = topk_ranked(rrf_fuse([lex, vec]), "rrf_e9", k=10)
        cands = pool.select(
            "query_id",
            "doc_id",
            (F.col("rrf_e9").cast("double") * F.lit(E2E_REL_SCALE)).alias("rel"),
        )
        out = mmr_rerank(_mmr_pairs(cands, _unit_of(e2)), k=5)
        spark.sparkContext.setJobDescription("e2e: full tail count")
        n = out.count()
        mark("fuse+mmr full-plan count")
        print(f"--- rep {rep} (rows={n}) ---")
        for label, dt in marks:
            print(f"{dt:8.3f}s  {label}")
        print(f"{sum(dt for _, dt in marks):8.3f}s  TOTAL")


if __name__ == "__main__":
    main()
