"""The lineage control plane: the ledger of completed shards kept on the
Spark driver, its job budget, and its failure rules (plans/lineage.py)."""

import os

import pytest
from conftest import count_jobs
from pyspark.sql import functions as F

from sax_wasm_spark.plans.lineage import completed_shards, run_extraction, with_shard
from sax_wasm_spark.sources.pages import synthesize_pages

N_PAGES = 120
NUM_SHARDS = 8


@pytest.fixture(scope="module")
def pages(spark):
    return synthesize_pages(spark, N_PAGES, partitions=4).cache()


def _tree(root: str) -> dict:
    """Relative path -> mtime_ns of every file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            out[os.path.relpath(p, root)] = os.stat(p).st_mtime_ns
    return out


def test_completed_shards_missing_ledger(spark, tmp_path):
    assert completed_shards(spark, str(tmp_path / "absent")) == []


def test_fresh_run_job_budget(spark, pages, tmp_path):
    out = str(tmp_path / "out")
    stats, n_jobs = count_jobs(
        spark, lambda: run_extraction(spark, pages, out, num_shards=NUM_SHARDS, run_id="f")
    )
    assert stats["n_docs"] == N_PAGES
    assert n_jobs <= 7


def test_resume_over_complete_root_job_budget(spark, pages, tmp_path):
    out = str(tmp_path / "out")
    first = run_extraction(spark, pages, out, num_shards=NUM_SHARDS, run_id="f")
    before = _tree(f"{out}/extracted")
    stats, n_jobs = count_jobs(
        spark, lambda: run_extraction(spark, pages, out, num_shards=NUM_SHARDS, run_id="r")
    )
    assert stats == {
        "processed_shards": 0,
        "skipped_shards": first["processed_shards"],
        "n_docs": 0,
    }
    assert n_jobs <= 3
    assert _tree(f"{out}/extracted") == before


def test_resume_lineage_counts_only_new_shards(spark, pages, tmp_path):
    """The read-back filter keeps exactly the shards this run wrote: the
    resume's lineage rows are the two failed shards, with their page
    counts."""
    out = str(tmp_path / "out")
    run_extraction(spark, pages, out, num_shards=NUM_SHARDS, run_id="r1", fail_shards={0, 1})
    assert completed_shards(spark, f"{out}/lineage") == list(range(2, NUM_SHARDS))
    run_extraction(spark, pages, out, num_shards=NUM_SHARDS, run_id="r2")
    lin = spark.read.parquet(f"{out}/lineage").where(F.col("run_id") == "r2")
    got = {r.shard: r.n_docs for r in lin.collect()}
    want = {
        r.shard: r["count"]
        for r in with_shard(pages, NUM_SHARDS)
        .where(F.col("shard").isin(0, 1))
        .groupBy("shard")
        .count()
        .collect()
    }
    assert set(want) == {0, 1}
    assert got == want


def test_unreadable_ledger_raises(spark, pages, tmp_path):
    """A ledger that exists but cannot be read must fail the run, not
    count as empty and silently re-extract every shard."""
    out = str(tmp_path / "out")
    run_extraction(spark, pages, out, num_shards=NUM_SHARDS, run_id="r1")
    lineage = f"{out}/lineage"
    for f in os.listdir(lineage):
        if f.endswith(".parquet"):
            with open(os.path.join(lineage, f), "wb") as fh:
                fh.write(b"not a parquet file")
    with pytest.raises(Exception, match="FAILED_READ_FILE"):
        run_extraction(spark, pages, out, num_shards=NUM_SHARDS, run_id="r2")
