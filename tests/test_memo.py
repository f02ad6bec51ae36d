"""The session memo (operators/util.memo): token hits skip the build,
token-less calls reuse a semantically identical held frame, and a miss
releases the key's previous holder."""

from __future__ import annotations

import importlib.util
import json
import pathlib

from pyspark.sql import functions as F

from etl_seattle_call_data_spark.operators import util
from tests.conftest import SF_SMOKE


def _counting(build):
    calls = []

    def wrapped():
        calls.append(1)
        return build()

    return wrapped, calls


def test_token_hit_skips_build(spark):
    build, calls = _counting(lambda: spark.range(10))
    first = util.memo("test:token", build, token=("t", 1))
    again = util.memo("test:token", build, token=("t", 1))
    assert again is first
    assert len(calls) == 1


def test_same_plan_without_token_returns_held_frame(spark):
    first = util.memo("test:plan", lambda: spark.range(10).withColumn("x", F.col("id") * 2))
    again = util.memo("test:plan", lambda: spark.range(10).withColumn("x", F.col("id") * 2))
    assert again is first


def test_new_plan_unpersists_previous_holder(spark):
    old = util.memo("test:swap", lambda: spark.range(10))
    assert old.storageLevel.useMemory
    new = util.memo("test:swap", lambda: spark.range(20))
    assert new is not old
    assert not old.storageLevel.useMemory
    assert new.storageLevel.useMemory
    assert new.count() == 20


def test_token_does_not_outlive_a_tokenless_replacement(spark):
    """One registry: a token-less call that replaces the frame also
    replaces the token, so the next token call rebuilds instead of
    being served the replacement's frame."""
    build_a, calls = _counting(lambda: spark.range(10))
    util.memo("test:mixed", build_a, token=1)
    b = util.memo("test:mixed", lambda: spark.range(30))
    a = util.memo("test:mixed", build_a, token=1)
    assert len(calls) == 2
    assert a is not b
    assert a.count() == 10


def test_clear_caches_empties_registry(spark):
    held = util.memo("test:clear", lambda: spark.range(10))
    util.clear_caches()
    assert util._memos == {}
    assert not held.storageLevel.useMemory


def test_ivf_query_sees_rewritten_centroids_after_clear_caches(spark, tmp_path):
    """The IVF codebook is the ``vec_id < 8`` vectors. After an external
    rewrite of embeddings.parquet that changes them, ``clear_caches()``
    must be enough for similarity_topk_ivf to use the new centroids,
    i.e. no session memo outside ``util.memo`` may hold the old ones."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_seattle_call_data_spark.operators import similarity
    from etl_seattle_call_data_spark.plans.queries import REGISTRY
    from etl_seattle_call_data_spark.sources.registry import load_table

    sf = str(tmp_path)
    path = tmp_path / "embeddings.parquet"
    shutil.copy(f"{SF_SMOKE}/embeddings.parquet", path)
    q = REGISTRY["similarity_topk_ivf"].spark
    q(spark, sf).collect()

    # every centroid becomes the same vector: all vectors fall in cell 0
    t = pq.read_table(path)
    vec = t.column("embedding").to_pylist()
    ids = t.column("vec_id").to_pylist()
    new_vec = [vec[ids.index(100)] if i < 8 else v for i, v in zip(ids, vec)]
    col = pa.array(new_vec, type=t.schema.field("embedding").type)
    pq.write_table(t.set_column(t.schema.get_field_index("embedding"), "embedding", col), path)
    util.clear_caches()

    emb = load_table(spark, sf, "embeddings")
    fresh = similarity.ivf_topk(emb, emb.filter(F.col("vec_id") < 10), k=5, n_cells=8)
    assert sorted(q(spark, sf).collect()) == sorted(fresh.collect())


def _final_plan(df) -> str:
    """The adaptive plan ``df`` ran with, after an action."""
    df.collect()
    return df._jdf.queryExecution().executedPlan().executedPlan().toString()


def test_shingle_self_join_never_broadcasts(spark):
    """The keyed tables ``dedup.pair_join`` self-joins (shingles, MinHash
    bands, SimHash sub-block combinations) scale with the corpus. A
    broadcast of one arm stays on the driver heap for as long as a memo
    of the pair table is held, so the join must shuffle even where AQE
    would broadcast the arm. (The df cap's anti-join against the hot
    shingles may broadcast: that set is at most 1/max_df of the table.)"""
    import re

    from etl_seattle_call_data_spark.operators import dedup
    from etl_seattle_call_data_spark.sources.registry import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    frames = {
        "capped": (dedup.jaccard_pairs(docs, threshold=0.5, max_df=100), "shingle"),
        "shingles=": (
            dedup.jaccard_pairs(docs, threshold=0.5, shingles=dedup.shingle_sets(docs)),
            "shingle",
        ),
        "containment": (dedup.containment_pairs(docs, threshold=0.8, max_df=100), "shingle"),
        "minhash": (dedup.minhash_band_candidates(dedup.shingle_sets(docs)), "band_idx"),
        "simhash": (dedup.simhash_pairs(docs, max_hamming=3), "band_idx"),
    }
    for name, (df, key) in frames.items():
        plan = _final_plan(df)
        self_join = rf"BroadcastHashJoin \[{key}#\d+[^\]]*\], \[{key}#\d+[^\]]*\], Inner"
        assert not re.search(self_join, plan), name
        assert f"ShuffledHashJoin [{key}#" in plan, name


def test_plan_fingerprint_is_stable_and_distinct(spark):
    """tools/plan_fingerprint.py: a memo-backed query fingerprints the
    same twice in one session (the cached relation's adaptive plan ids
    are stripped), and a different query fingerprints differently."""
    tool = pathlib.Path(__file__).parent.parent / "tools" / "plan_fingerprint.py"
    spec = importlib.util.spec_from_file_location("plan_fingerprint", tool)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    first = mod.fingerprints(spark, SF_SMOKE, ["dedup_ngram_jaccard", "dedup_containment_pairs"])
    again = mod.fingerprints(spark, SF_SMOKE, ["dedup_ngram_jaccard"])
    assert first["dedup_ngram_jaccard"] == again["dedup_ngram_jaccard"]
    assert first["dedup_ngram_jaccard"] != first["dedup_containment_pairs"]
    assert mod.diff(first, again) == ["dedup_containment_pairs: only in the old run"]
    assert util._memos == {}


def test_memo_audit_reports_every_held_key(spark):
    """tools/memo_audit.py on a two-query subset: the report has its
    fields, every key still held is measured and dropped, and the
    registry is empty afterwards."""
    tool = pathlib.Path(__file__).parent.parent / "tools" / "memo_audit.py"
    spec = importlib.util.spec_from_file_location("memo_audit", tool)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    names = ["dedup_ngram_jaccard", "dedup_containment_pairs"]
    out = json.loads(json.dumps(mod.audit(spark, SF_SMOKE, names)))
    assert set(out) == {"sf_dir", "queries", "failed", "seconds", "heap_held_mb",
                        "heap_dropped_mb", "pinned_mb", "keys"}
    assert out["queries"] == 2 and out["failed"] == {}
    assert {"doc_shingles", "jaccard_shingles", "jaccard_pairs"} <= {k["key"] for k in out["keys"]}
    for rec in out["keys"]:
        assert set(rec) == {"key", "broadcasts", "storage_bytes", "freed_mb"}
        for b in rec["broadcasts"]:
            assert set(b) == {"output", "rows", "bytes"}
    assert util._memos == {}
