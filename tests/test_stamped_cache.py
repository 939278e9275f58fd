"""functions/stamped_cache.py and session.session_conf.

Pins: (1) the PQ index cache keys on the corpus's embeddings stamp, so an
in-place rewrite rebuilds the index and the result equals an uncached
call; (2) eviction past the index cache's cap unpersists the evicted
entry's code table; (3) a hit whose storage ``clearCache()`` dropped is
persisted again; (4) two driver threads sharing the relation and edge
caches never raise, every call is counted once as a hit or a miss, and
the entry count stays within the cap; (5) ``session_conf`` restores set
keys and unsets keys that were unset, also when the block raises."""

from __future__ import annotations

import os
import shutil
import threading

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from zonal_datacube_spark.functions import grain_cache, pq
from zonal_datacube_spark.operators import graph
from zonal_datacube_spark.session import session_conf
from zonal_datacube_spark.sources import loader

PROBES = [0, 1, 2, 3, 4]
ANN = dict(k=3, iters=1, dim=64)


def _write_embeddings(spark, root, lo: int, hi: int) -> None:
    """``embeddings.parquet`` under ``root`` holding the probes plus
    vec_ids in [lo, hi), replacing any previous copy at the same path."""
    rows = loader.load_table(spark, SF_SMOKE, "embeddings").filter(
        F.col("vec_id").isin(PROBES) | F.col("vec_id").between(lo, hi - 1)
    )
    tmp = os.path.join(root, "embeddings_new.parquet")
    rows.write.parquet(tmp)
    dst = os.path.join(root, "embeddings.parquet")
    shutil.rmtree(dst, ignore_errors=True)
    os.rename(tmp, dst)


def _ann_rows(df) -> list[tuple]:
    return sorted((r.probe_id, r.neighbor_id, r.score, r.rn) for r in df.collect())


def test_pq_index_rebuilds_after_in_place_rewrite(spark, tmp_path):
    corp = str(tmp_path / "corp")
    os.makedirs(corp)
    _write_embeddings(spark, corp, 5, 200)
    emb = loader.load_table(spark, corp, "embeddings")
    pq.pq_ann(emb, PROBES, cache_key=corp, **ANN).collect()
    misses = pq._INDEX_CACHE.stats["misses"]

    _write_embeddings(spark, corp, 200, 400)  # same path, new vectors
    emb = loader.load_table(spark, corp, "embeddings")
    cached = _ann_rows(pq.pq_ann(emb, PROBES, cache_key=corp, **ANN))
    assert pq._INDEX_CACHE.stats["misses"] == misses + 1  # rebuilt
    assert cached == _ann_rows(pq.pq_ann(emb, PROBES, cache_key=None, **ANN))
    assert {n for _, n, _, _ in cached} - set(PROBES) <= set(range(200, 400))


def test_pq_index_eviction_unpersists_codes(spark, tmp_path):
    corp = str(tmp_path / "corp")
    os.makedirs(corp)
    _write_embeddings(spark, corp, 5, 120)
    emb = loader.load_table(spark, corp, "embeddings")
    cap = pq._INDEX_CACHE.cap
    for train_mod in range(1, cap + 2):
        pq.pq_ann(emb, PROBES, train_mod=train_mod, cache_key=corp, **ANN).collect()
        if train_mod == 1:
            # a hit hands back the cached (codebook, codes) entry
            params = ("pq", pq.PQ_M, pq.PQ_K, ANN["iters"], 1)
            _, first_codes = pq._index(emb, corp, params, build=None)
            assert first_codes.storageLevel.useMemory
    assert len(pq._INDEX_CACHE) <= cap
    assert not first_codes.storageLevel.useMemory  # evicted AND unpersisted


def test_hit_repersists_after_clear_cache(spark):
    spec = ("events", ("event_type",), "value", "value")
    grain = grain_cache.table_value_grain(spark, SF_SMOKE, *spec)
    spark.catalog.clearCache()
    assert not grain.storageLevel.useMemory
    again = grain_cache.table_value_grain(spark, SF_SMOKE, *spec)
    assert again is grain
    assert again.storageLevel.useMemory


def test_two_driver_threads_share_relation_and_edge_caches(spark):
    n_calls = 6
    tables = ("orders", "customer", "nation")
    rel, edge = loader._RELATION_CACHE, graph._EDGE_CACHE
    rel_base, edge_base = dict(rel.stats), dict(edge.stats)
    errors: list[BaseException] = []

    def worker(offset: int) -> None:
        try:
            for i in range(n_calls):
                loader.load_table(spark, SF_SMOKE, tables[(i + offset) % len(tables)])
                graph.trade_edges_cached(spark, SF_SMOKE)
        except BaseException as exc:  # surfaced below
            errors.append(exc)

    threads = [threading.Thread(target=worker, args=(k,)) for k in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors

    def calls(cache, base) -> int:
        return sum(cache.stats[k] - base[k] for k in ("hits", "misses"))

    edge_misses = edge.stats["misses"] - edge_base["misses"]
    assert calls(edge, edge_base) == 2 * n_calls
    assert edge_misses <= 1  # the lock lets only one thread build
    # each edge build loads its four source tables through the loader
    assert calls(rel, rel_base) == 2 * n_calls + 4 * edge_misses
    assert len(edge) <= graph._EDGE_CACHE_CAP
    assert len(rel) <= rel.cap


def test_session_conf_restores_or_unsets(spark):
    set_key, unset_key = "spark.sql.shuffle.partitions", "zds.test.scoped"
    before = spark.conf.get(set_key)
    assert spark.conf.get(unset_key, None) is None
    with pytest.raises(RuntimeError):
        with session_conf(spark, {set_key: "3", unset_key: "on"}):
            assert spark.conf.get(set_key) == "3"
            assert spark.conf.get(unset_key) == "on"
            raise RuntimeError("boom")
    assert spark.conf.get(set_key) == before
    assert spark.conf.get(unset_key, None) is None
