"""Every call of a registered op builds from the current corpus and its own
caches: corpus views follow an in-place table rewrite, composers rebuild
their inner op's caches after ``spark.catalog.clearCache()``, and
``_materialize_cache`` refuses a frame its caller never cached."""

from __future__ import annotations

import shutil
import time

import pytest

from highspeedrailwaybigdatasystem_spark.operators._util import (
    _materialize_cache,
    sql_q,
)
from highspeedrailwaybigdatasystem_spark.registry import all_oracles, all_queries
from highspeedrailwaybigdatasystem_spark.sources._scratch import scratch_dir
from tests.conftest import SF_ORACLE, SF_SMOKE
from tools.mirror import compare


def test_views_follow_in_place_table_rewrite(spark):
    """Overwrite lineitem in a copied corpus between two sql_q calls on the
    same session: the second call must read the new file. The views were
    once keyed on events.parquet alone, so this read 0 rows."""
    d = scratch_dir("views_rewrite_corpus")
    shutil.rmtree(d, ignore_errors=True)
    shutil.copytree(SF_SMOKE, d)
    try:
        q = "SELECT count(*) AS n FROM lineitem"
        before = sql_q(spark, d, q).first()["n"]
        assert before == spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").count()
        time.sleep(0.02)  # a distinct mtime on coarse-clock filesystems
        shutil.copy(f"{SF_ORACLE}/lineitem.parquet", f"{d}/lineitem.parquet")
        after = sql_q(spark, d, q).first()["n"]
        assert after == spark.read.parquet(f"{d}/lineitem.parquet").count()
        assert after > before
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_composers_match_oracle_after_clear_cache(spark, duck):
    """Build llm_minhash_banding's caches, clear them, then run the two
    composers that call it directly: each rebuilds the caches it reads and
    still equals its DuckDB oracle."""
    qs, oracles = all_queries(), all_oracles()
    qs["llm_minhash_banding"](spark, SF_ORACLE).collect()
    spark.catalog.clearCache()
    for name in ("llm_dup_partner_degree_dist", "llm_lsh_tuning_curve"):
        got = qs[name](spark, SF_ORACLE).toPandas()
        problems = compare(name, got, duck.execute(oracles[name]).fetchdf())
        assert not problems, f"{name}: " + "; ".join(problems)


def test_materialize_cache_rejects_uncached_frame(spark):
    df = spark.range(37).selectExpr("id * 3 AS x")
    with pytest.raises(ValueError, match="frame 0 is not cached"):
        _materialize_cache(spark, df)
    df.cache()
    try:
        _materialize_cache(spark, df)
        assert df.storageLevel.useMemory
        df.unpersist(blocking=True)
        # unpersist drops the CacheManager entry: materializing again would
        # be an uncached recompute, so it must fail loud, not re-register
        with pytest.raises(ValueError, match="not cached"):
            _materialize_cache(spark, df)
    finally:
        df.unpersist()
