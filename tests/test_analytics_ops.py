"""Semantic unit tests for the second-wave operators: deterministic
sampling, salted join parity, table profiling, incremental dedup,
connected components, tf-idf, multi-format sinks."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_seattle_call_data_spark.operators import dedup, joins, profile, sampling, text
from tests.conftest import SF_SMOKE


def test_hash_sample_deterministic_across_partitionings(spark):
    df = spark.range(0, 2000).withColumnRenamed("id", "k")
    s1 = {r.k for r in sampling.hash_sample(df, "k", percent=10).collect()}
    s2 = {r.k for r in sampling.hash_sample(df.repartition(13), "k", percent=10).collect()}
    assert s1 == s2  # partitioning-independent (df.sample is not)
    assert 100 < len(s1) < 320  # ~10% of 2000, hash-binomial spread


def test_hash_sample_consistent_across_tables(spark):
    # the same key always samples in: a sampled fact joins a sampled dim
    a = spark.range(0, 500).withColumnRenamed("id", "k")
    b = spark.range(0, 500).withColumnRenamed("id", "k").withColumn("v", F.col("k") * 2)
    ka = {r.k for r in sampling.hash_sample(a, "k", percent=20).collect()}
    kb = {r.k for r in sampling.hash_sample(b, "k", percent=20).collect()}
    assert ka == kb


def test_stratified_sample_exact_counts(spark):
    rows = [(i, "big") for i in range(100)] + [(1000 + i, "small") for i in range(3)]
    df = spark.createDataFrame(rows, ["k", "stratum"])
    out = sampling.stratified_sample(df, "stratum", "k").collect()
    by = {}
    for r in out:
        by.setdefault(r.stratum, []).append(r.k)
    assert len(by["big"]) == 10  # exactly ceil(100/10)
    assert len(by["small"]) == 1  # ceil(3/10) = 1 — never an empty stratum


def test_salted_join_matches_plain_join(spark):
    fact = spark.createDataFrame(
        [(i, i % 3) for i in range(60)] + [(100, 99)], ["row_id", "k"]
    )  # key 99 has no dim match
    dim = spark.createDataFrame([(0, "a"), (1, "b"), (2, "c")], ["k", "name"])
    plain_inner = {(r.row_id, r.name) for r in fact.join(dim, "k").collect()}
    salted_inner = {
        (r.row_id, r.name)
        for r in joins.salted_join(fact, dim, ["k"], salt_by="row_id", n_salts=4).collect()
    }
    assert salted_inner == plain_inner
    plain_left = {(r.row_id, r.name) for r in fact.join(dim, "k", "left").collect()}
    salted_left = {
        (r.row_id, r.name)
        for r in joins.salted_join(
            fact, dim, ["k"], salt_by="row_id", n_salts=4, how="left"
        ).collect()
    }
    assert salted_left == plain_left  # unmatched fact row kept with null


def test_hot_salted_join_matches_plain_join(spark):
    """Differentiated salting: a zipfian head key (~60% of fact rows)
    triggers detection and salting; cold keys stay unsalted; rows match
    the plain inner join exactly. No-hot-key inputs skip the rewrite."""
    fact = spark.createDataFrame(
        [(i, 7) for i in range(90)] + [(1000 + i, i % 3) for i in range(60)],
        ["row_id", "k"],
    )
    dim = spark.createDataFrame(
        [(0, "a"), (1, "b"), (2, "c"), (7, "hot")], ["k", "name"]
    )
    plain = {(r.row_id, r.name) for r in fact.join(dim, "k").collect()}
    salted = {
        (r.row_id, r.name)
        for r in joins.hot_salted_join(
            fact, dim, ["k"], salt_by="row_id", n_salts=4
        ).collect()
    }
    assert salted == plain
    # uniform input: detector finds no heavy hitter, plain join returned
    uni = spark.createDataFrame([(i, i % 200) for i in range(400)], ["row_id", "k"])
    udim = spark.createDataFrame([(i, f"v{i}") for i in range(200)], ["k", "name"])
    out = {
        (r.row_id, r.name)
        for r in joins.hot_salted_join(
            uni, udim, ["k"], salt_by="row_id", n_salts=4
        ).collect()
    }
    assert out == {(r.row_id, r.name) for r in uni.join(udim, "k").collect()}


def test_hot_salted_join_null_and_int_keys(spark):
    """The classic null-FK skew case: a NULL heavy-hitter key must not
    break detection (void-typed literals fail array_contains analysis)
    — nulls never match an inner equi-join, so they are excluded from
    the hot list and the result still equals the plain join. Also
    int32 keys: Python-literal inference is bigint, so the hot-list
    literals must cast to the fact column's type."""
    rows = [(i, None) for i in range(80)] + [(1000 + i, i % 3) for i in range(60)]
    fact = spark.createDataFrame(rows, "row_id long, k int")
    # make one NON-null key hot too so the salting path runs on int32
    fact = fact.union(
        spark.createDataFrame([(2000 + i, 2) for i in range(90)], "row_id long, k int")
    )
    dim = spark.createDataFrame([(0, "a"), (1, "b"), (2, "hot")], "k int, name string")
    plain = {(r.row_id, r.name) for r in fact.join(dim, "k").collect()}
    salted = {
        (r.row_id, r.name)
        for r in joins.hot_salted_join(
            fact, dim, ["k"], salt_by="row_id", n_salts=4
        ).collect()
    }
    assert salted == plain


def test_profile_table_exact_and_approx(spark):
    df = spark.createDataFrame(
        [(1, "a", 1.0), (2, "a", 2.0), (3, None, 3.0), (4, "b", None)],
        ["id", "grp", "val"],
    )
    row = profile.profile_table(
        df, null_cols=["grp", "val"], distinct_cols=["grp"], minmax_cols=["val"]
    ).first()
    assert row.n_rows == 4 and row.grp_nulls == 1 and row.val_nulls == 1
    assert row.grp_distinct == 2  # count_distinct ignores nulls
    assert row.val_min == 1.0 and row.val_max == 3.0
    approx = profile.profile_table(
        df, null_cols=[], distinct_cols=["grp"], minmax_cols=[], approx=True
    ).first()
    assert approx.grp_distinct == 2  # HLL exact at tiny cardinality


def test_incremental_dedup(spark):
    corpus = spark.createDataFrame(
        [(0, "known doc one"), (2, "known doc two")], ["doc_id", "text"]
    )
    new = spark.createDataFrame(
        [
            (1, "KNOWN   doc one"),  # canonical dup of corpus doc 0 → dropped
            (3, "a genuinely new doc"),
        ],
        ["doc_id", "text"],
    )
    out = dedup.incremental_dedup(new, corpus).collect()
    assert [r.doc_id for r in out] == [3]


def test_connected_components_clusters(spark):
    path = [(i, i + 1) for i in range(100, 126)]
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)] + path,
        ["id_a", "id_b"],
    )
    out = {r.doc_id: r.cluster_id for r in dedup.connected_components(pairs).collect()}
    # chain 1-2-3-4 (diameter 3), pair, triangle — all labeled by min
    # member; the 27-node path 100..126 (diameter 26) needs 26 rounds
    # before node 126 sees label 100
    expected = {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}
    expected.update({i: 100 for i in range(100, 127)})
    assert out == expected


def test_pair_join_matches_python_model(spark):
    """pair_join emits every (id_a < id_b) pair once per shared key,
    with each side's carried columns."""
    rows = [
        (1, "k1", 10), (2, "k1", 20), (3, "k1", 30),
        (1, "k2", 11), (2, "k2", 21),
        (4, "k3", 40), (4, "k3", 41),
        (5, "k4", 50),
        (2, "k5", 22), (3, "k5", 32), (1, "k5", 12),
    ]
    keyed = spark.createDataFrame(rows, ["doc_id", "key", "pos"])
    out = dedup.pair_join(keyed, "doc_id", "key", carry=("pos",))
    assert out.columns == ["id_a", "pos_a", "key", "id_b", "pos_b"]
    expected = {
        (ia, ib, ka, pa, pb)
        for ia, ka, pa in rows
        for ib, kb, pb in rows
        if ka == kb and ia < ib
    }
    got = [(r.id_a, r.id_b, r.key, r.pos_a, r.pos_b) for r in out.collect()]
    assert len(got) == len(expected)
    assert set(got) == expected


def test_tfidf_top_terms_ranking(spark):
    docs = spark.createDataFrame(
        [
            (1, "apple apple banana shared"),
            (2, "banana cherry shared"),
            (3, "cherry cherry shared shared"),
        ],
        ["doc_id", "text"],
    )
    rows = text.tfidf_top_terms(docs, k=2).collect()
    top = {}
    for r in rows:
        top.setdefault(r.doc_id, []).append((r.rank, r.term, r.score))
    # doc 1: apple tf=2 df=1 → score 2*3/1=6 beats banana (1*3/2=1.5)
    assert sorted(top[1])[0][1] == "apple" and sorted(top[1])[0][2] == 6.0
    # doc 3: cherry tf=2 df=2 → 3.0; shared tf=2 df=3 → 2.0
    assert [t[1] for t in sorted(top[3])] == ["cherry", "shared"]


def test_table_dir_sink_formats(spark, tmp_path):
    from etl_seattle_call_data_spark.sinks import TableDirSink

    df = spark.createDataFrame([(1, "x"), (2, "y")], ["id", "s"])
    for fmt in ("parquet", "orc", "json"):
        sink = TableDirSink(str(tmp_path / fmt), format=fmt)
        assert sink.write("t", df) == 2
        back = spark.read.format(fmt).load(sink.path_for("t"))
        assert {(int(r.id), r.s) for r in back.collect()} == {(1, "x"), (2, "y")}


def test_redact_pii(spark):
    docs = spark.createDataFrame(
        [
            (1, "contact john.doe+spam@example.co.uk or call +1 (206) 555-0137 now"),
            (2, "no pii here at all"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in text.redact_pii(docs).collect()}
    assert out[1].n_emails == 1 and out[1].n_phones == 1
    assert "[EMAIL]" in out[1].redacted and "[PHONE]" in out[1].redacted
    assert "example" not in out[1].redacted and "555" not in out[1].redacted
    assert out[2].redacted == "no pii here at all"


def test_snapshot_diff_semantics(spark):
    from etl_seattle_call_data_spark.operators import cdc

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", None)], ["k", "s", "v"]
    )
    new = spark.createDataFrame(
        [(2, "b", 25.0), (3, "c", None), (4, "d", 40.0)], ["k", "s", "v"]
    )
    out = {r.k: r.change_type for r in cdc.snapshot_diff(old, new, ["k"]).collect()}
    # 1 removed, 2 changed, 3 unchanged (null-safe compare!), 4 added
    assert out == {1: "removed", 2: "changed", 4: "added"}


def test_upsert_snapshot_batch_merge(spark):
    from etl_seattle_call_data_spark.operators import cdc

    current = spark.createDataFrame(
        [("a", 1, 100), ("b", 1, 100)], ["k", "ver", "v"]
    )
    batch = spark.createDataFrame(
        [("a", 2, 200), ("b", 1, 999), ("c", 1, 300)], ["k", "ver", "v"]
    )
    out = {r.k: (r.ver, r.v) for r in cdc.upsert_snapshot(current, batch, "k", "ver").collect()}
    assert out["a"] == (2, 200)  # newer version wins
    assert out["b"] == (1, 999)  # tie -> batch row wins
    assert out["c"] == (1, 300)  # insert
    # bootstrap: no current snapshot
    boot = cdc.upsert_snapshot(None, batch, "k", "ver")
    assert boot.count() == 3


def test_compact_parquet(spark, tmp_path):
    from etl_seattle_call_data_spark.operators import maintenance

    path = str(tmp_path / "many_files")
    spark.range(0, 10000).repartition(40).write.parquet(path)
    import os

    before = len([f for f in os.listdir(path) if f.startswith("part-")])
    assert before == 40
    after = maintenance.compact_parquet(spark, path, target_file_bytes=1 << 30)
    assert after == 1  # tiny table -> one file
    assert spark.read.parquet(path).count() == 10000


def test_compact_single_file_table_twice(spark, tmp_path):
    """A table stored as ONE parquet file (not a directory) is rewritten
    into a directory; the leftover ``__old`` is a file, and neither the
    swap nor the next call's heal may die removing it."""
    import os
    import shutil

    from etl_seattle_call_data_spark.operators import maintenance

    path = str(tmp_path / "region.parquet")
    shutil.copy(f"{SF_SMOKE}/region.parquet", path)
    n = spark.read.parquet(path).count()
    for _ in range(2):
        assert maintenance.compact_parquet(spark, path, target_file_bytes=1 << 30) == 1
        assert not os.path.exists(path + "__old")
        assert spark.read.parquet(path).count() == n


def test_compact_drops_table_plan_memo(spark, tmp_path):
    """load_table memoizes the table plan (and its file list); an
    in-place rewrite must drop it, or the next load reads deleted files."""
    from etl_seattle_call_data_spark.operators import maintenance
    from etl_seattle_call_data_spark.sources.registry import load_table

    d = str(tmp_path)
    region = spark.read.parquet(f"{SF_SMOKE}/region.parquet")
    region.repartition(3).write.parquet(f"{d}/region.parquet")
    n = load_table(spark, d, "region").count()
    maintenance.compact_parquet(spark, f"{d}/region.parquet", target_file_bytes=1 << 30)
    assert load_table(spark, d, "region").count() == n


def test_read_jsonl_safe_quarantines_bad_lines(spark, tmp_path):
    from pyspark.sql import types as T

    from etl_seattle_call_data_spark.sources.json_source import read_jsonl_safe

    p = tmp_path / "data.jsonl"
    p.write_text(
        '{"id": 1, "name": "ok"}\n'
        "this is not json at all\n"
        '{"id": 2, "name": "also ok"}\n'
        '{"id": broken json here\n'
    )
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("name", T.StringType())]
    )
    good, bad = read_jsonl_safe(spark, str(p), schema)
    assert {r.id for r in good.collect()} == {1, 2}
    bad_lines = [r.raw for r in bad.collect()]
    assert len(bad_lines) == 2
    assert "not json" in bad_lines[0] or "not json" in bad_lines[1]


def test_cluster_parquet_narrows_file_key_ranges(spark, tmp_path):
    """After clustering, each file's [min,max] on the key covers a narrow
    disjoint slice (so parquet row-group stats prune scans); before, every
    file straddles essentially the whole key range."""
    import os

    import pyarrow.parquet as pq

    from etl_seattle_call_data_spark.operators import maintenance

    path = str(tmp_path / "tbl")
    # random layout: round-robin repartition scatters keys across files
    spark.range(0, 40000).withColumnRenamed("id", "k").repartition(8).write.parquet(path)

    def spans(p):
        out = []
        for f in os.listdir(p):
            if not f.startswith("part-"):
                continue
            md = pq.ParquetFile(os.path.join(p, f)).metadata
            col = md.row_group(0).column(0).statistics
            lo, hi = col.min, col.max
            for rg in range(1, md.num_row_groups):
                s = md.row_group(rg).column(0).statistics
                lo, hi = min(lo, s.min), max(hi, s.max)
            out.append((lo, hi))
        return out

    before = spans(path)
    assert all(hi - lo > 30000 for lo, hi in before)  # every file spans ~all keys

    n = maintenance.cluster_parquet(spark, path, ["k"], n_files=8)
    assert n == 8
    after = sorted(spans(path))
    assert all(hi - lo < 10000 for lo, hi in after)  # narrow slices
    # disjoint: each file's range ends before the next begins
    assert all(after[i][1] < after[i + 1][0] for i in range(len(after) - 1))
    assert spark.read.parquet(path).count() == 40000


def test_salted_join_rejects_dim_preserving_joins(spark):
    from etl_seattle_call_data_spark.operators import joins

    f = spark.createDataFrame([(1, "a")], ["k", "v"])
    d = spark.createDataFrame([(1, "x"), (2, "y")], ["k", "w"])
    with pytest.raises(ValueError, match="fact-preserving"):
        joins.salted_join(f, d, on=["k"], salt_by="v", how="full")
    # left-anti remains supported and correct
    out = joins.salted_join(d, f.select("k"), on=["k"], salt_by="w", how="left_anti")
    assert [r.k for r in out.collect()] == [2]


def test_compact_recovers_from_kill_between_renames(spark, tmp_path):
    """Simulate a compaction killed BETWEEN the two publish renames:
    ``path`` gone, ``path__old`` holds the data, the new tmp dir is
    half-published. A retry must heal (restore path from __old), then
    complete normally with no data loss."""
    import os
    import shutil

    from etl_seattle_call_data_spark.operators import maintenance

    path = str(tmp_path / "tbl")
    spark.range(0, 5000).repartition(10).write.parquet(path)

    # crash state: first rename done, second never happened
    os.rename(path, path + "__old")
    shutil.copytree(path + "__old", path + "__compacting")  # stale tmp

    after = maintenance.compact_parquet(spark, path, target_file_bytes=1 << 30)
    assert after == 1
    assert spark.read.parquet(path).count() == 5000
    assert not os.path.exists(path + "__old")


def test_compact_recovers_from_kill_before_cleanup(spark, tmp_path):
    """Simulate a compaction killed AFTER the swap but before the old
    directory was removed: both ``path`` (new data) and ``path__old``
    exist. The retry must drop the leftover and not resurrect old data."""
    import os

    from etl_seattle_call_data_spark.operators import maintenance

    path = str(tmp_path / "tbl")
    spark.range(0, 5000).write.parquet(path)
    # crash state: swap succeeded, cleanup didn't — __old holds STALE data
    spark.range(0, 123).write.parquet(path + "__old")

    after = maintenance.compact_parquet(spark, path, target_file_bytes=1 << 30)
    assert after == 1
    assert spark.read.parquet(path).count() == 5000  # new data survived
    assert not os.path.exists(path + "__old")


def test_text_corpus_ingestion_content_addressed(spark, tmp_path):
    """Raw text tree -> documents shape: per-line docs, source from the
    directory, deterministic content-addressed ids (re-ingesting the
    same tree yields identical ids), blank lines dropped."""
    from etl_seattle_call_data_spark.sources.corpus_source import (
        ingest_corpus_to_documents,
        read_text_corpus,
    )

    web = tmp_path / "corpus" / "web"
    books = tmp_path / "corpus" / "books"
    web.mkdir(parents=True)
    books.mkdir(parents=True)
    (web / "shard1.txt").write_text("the quick brown fox\n\njumps over\n")
    (books / "b1.txt").write_text("call me ishmael\n")

    docs = read_text_corpus(spark, str(tmp_path / "corpus" / "*" / "*.txt"))
    rows = {r.text: r for r in docs.collect()}
    assert set(rows) == {"the quick brown fox", "jumps over", "call me ishmael"}
    assert rows["call me ishmael"].source == "books"
    assert rows["the quick brown fox"].source == "web"
    assert all(r.n_chars == len(t) for t, r in rows.items())

    # determinism: same tree -> same ids, regardless of partitioning
    again = {r.text: r.doc_id for r in read_text_corpus(
        spark, str(tmp_path / "corpus" / "*" / "*.txt")).repartition(7).collect()}
    assert again == {t: r.doc_id for t, r in rows.items()}

    # whole-file mode keeps the multi-line doc together
    whole = read_text_corpus(spark, str(web / "shard1.txt"), doc_per_file=True)
    assert whole.count() == 1

    # ingest pipeline dedups on content: duplicate file collapses
    (web / "shard2.txt").write_text("the quick brown fox\n")  # dup line, same source
    n = ingest_corpus_to_documents(
        spark, str(tmp_path / "corpus" / "*" / "*.txt"), str(tmp_path / "out")
    )
    assert n == 3  # dup collapsed


def test_orc_roundtrip_with_partition_pruning(spark, tmp_path):
    """ORC sink/scan parity with parquet, plus evidence the partitioned
    read prunes: a filtered scan's plan lists only the matching
    partition directory."""
    from etl_seattle_call_data_spark.sources.corpus_source import read_orc, write_orc
    from etl_seattle_call_data_spark.sources.registry import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    path = str(tmp_path / "events_orc")
    write_orc(ev, path, partition_by=["event_type"])

    back = read_orc(spark, path)
    assert back.count() == ev.count()

    one = back.filter(F.col("event_type") == "click")
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "event_type" in plan
    exp = ev.filter(F.col("event_type") == "click").count()
    assert one.count() == exp


def test_versioned_table_time_travel_rollback_vacuum(spark, tmp_path):
    from etl_seattle_call_data_spark.operators.versioned import VersionedTable

    t = VersionedTable(str(tmp_path / "tbl"))
    assert t.commit(spark.range(0, 100).withColumnRenamed("id", "k")) == 1
    assert t.commit(spark.range(0, 50).withColumnRenamed("id", "k")) == 2

    assert t.read(spark).count() == 50            # latest
    assert t.read(spark, version=1).count() == 100  # time travel

    # reader pinned to an old manifest keeps a consistent snapshot while
    # new commits land (lazy evaluation against an immutable dir)
    pinned = t.read(spark, version=2)
    assert t.commit(spark.range(0, 7).withColumnRenamed("id", "k")) == 3
    assert pinned.count() == 50

    # non-destructive rollback: v4 points at v1's data, history intact
    v4 = t.rollback(1)
    assert v4 == 4
    assert t.read(spark).count() == 100
    assert [h["version"] for h in t.history()] == [1, 2, 3, 4]

    # crash-orphan: a data dir with no manifest entry is vacuumed
    (tmp_path / "tbl" / "v-99999999-deadbeef").mkdir()
    removed = t.vacuum()
    # keep v3 and v4(->v1 dir); drop v2's dir and the orphan
    assert any("deadbeef" in r for r in removed)
    assert t.read(spark).count() == 100          # rollback target survived
    assert t.read(spark, version=3).count() == 7
    import pytest as _pytest
    with _pytest.raises(ValueError):
        t.read(spark, version=2)                  # vacuumed beyond horizon


def test_text_corpus_reads_gzip_shards(spark, tmp_path):
    """Compressed shards ingest transparently (Spark's text source
    decompresses .gz per file). Caveat encoded in the test: a .gz shard
    is NOT splittable — one file = one task — so the 100 TB layout is
    many medium shards, never one giant archive."""
    import gzip

    from etl_seattle_call_data_spark.sources.corpus_source import read_text_corpus

    d = tmp_path / "corpus" / "web"
    d.mkdir(parents=True)
    with gzip.open(d / "shard1.txt.gz", "wt") as f:
        f.write("alpha doc\nbeta doc\n")
    docs = read_text_corpus(spark, str(d / "*.gz"))
    assert {r.text for r in docs.collect()} == {"alpha doc", "beta doc"}
    assert docs.first().source == "web"


def test_compact_crash_matrix_all_kill_points(spark, tmp_path):
    """Enumerate every crash point of the publish sequence (tmp written /
    after rename1 / after rename2 / after cleanup) and assert a retry
    compaction always recovers to a readable table with the right data."""
    import os
    import shutil

    from etl_seattle_call_data_spark.operators import maintenance

    def fresh(tag):
        path = str(tmp_path / f"tbl_{tag}")
        spark.range(0, 3000).write.parquet(path)
        return path

    # (a) killed after writing tmp, before any rename
    p = fresh("a")
    shutil.copytree(p, p + "__compacting")
    assert maintenance.compact_parquet(spark, p, target_file_bytes=1 << 30) == 1
    assert spark.read.parquet(p).count() == 3000

    # (b) killed between the renames (path gone)
    p = fresh("b")
    os.rename(p, p + "__old")
    assert maintenance.compact_parquet(spark, p, target_file_bytes=1 << 30) == 1
    assert spark.read.parquet(p).count() == 3000

    # (c) killed after the swap, before cleanup (stale __old)
    p = fresh("c")
    spark.range(0, 5).write.parquet(p + "__old")
    assert maintenance.compact_parquet(spark, p, target_file_bytes=1 << 30) == 1
    assert spark.read.parquet(p).count() == 3000
    assert not os.path.exists(p + "__old")

    # (d) clean completion then immediate re-run (idempotence)
    p = fresh("d")
    maintenance.compact_parquet(spark, p, target_file_bytes=1 << 30)
    assert maintenance.compact_parquet(spark, p, target_file_bytes=1 << 30) == 1
    assert spark.read.parquet(p).count() == 3000


def test_dq_expectations_report_and_gate(spark):
    from etl_seattle_call_data_spark.operators import dq

    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 150.0), (2, None, 5.0), (4, "d", None)],
        "id int, name string, score double",
    )
    ref = spark.createDataFrame([(1,), (2,)], "id int")

    rules = [
        dq.not_null("name"),
        dq.unique("id"),
        dq.in_range("score", 0.0, 100.0),
        dq.in_set("name", ["a", "b", "d"]),
        dq.violates_when("score_present_for_named", F.col("name").isNotNull() & F.col("score").isNull()),
        dq.foreign_key("id", ref, "id"),
    ]
    rep = {r.rule: r for r in dq.check_expectations(df, rules).collect()}
    assert rep["not_null:name"].n_violations == 1
    assert rep["unique:id"].n_violations == 1           # id=2 twice -> 1 extra row
    assert rep["in_range:score[0.0,100.0]"].n_violations == 1  # 150.0 (NULL not counted)
    assert rep["in_set:name"].n_violations == 0
    assert rep["score_present_for_named"].n_violations == 1    # id=4
    assert rep["foreign_key:id->id"].n_violations == 1         # id=4 orphaned
    assert all(r.n_rows == 4 for r in rep.values())

    import pytest as _pytest
    with _pytest.raises(ValueError, match="not_null:name"):
        dq.assert_expectations(df, rules)

    clean = df.filter("id = 1")
    assert dq.assert_expectations(clean, rules).count() == len(rules)


def _global_rank(df, coarse):
    from etl_seattle_call_data_spark.operators import ranking

    return ranking.two_phase_scan(
        df, [], [("global_rank", ["value", "id"], coarse, F.lit(1), "sum", False)]
    )


def test_two_phase_rank_matches_global_ntile(spark):
    """A two_phase_scan rank + equidepth_bucket must reproduce
    row_number and NTILE over a global sort exactly — including
    duplicate order values (tie-broken by id), a row count not divisible
    by k (ragged NTILE buckets), and the n<k degenerate case."""
    from pyspark.sql.window import Window as W

    from etl_seattle_call_data_spark.operators import ranking

    rows = [(i, float((i * 37) % 50)) for i in range(137)]
    df = spark.createDataFrame(rows, "id long, value double")
    ranked = _global_rank(df, F.floor(F.col("value") / 7))
    n = F.col("global_rank_total")
    assert {r[0] for r in ranked.select("global_rank_total").collect()} == {137}
    w = W.orderBy("value", "id")
    expect = df.select(
        "id",
        F.row_number().over(w).alias("exp_rank"),
        F.ntile(10).over(w).alias("exp_bucket"),
    )
    got = ranked.select(
        "id",
        F.col("global_rank").alias("rank"),
        ranking.equidepth_bucket(F.col("global_rank"), n, 10).alias("bucket"),
    )
    joined = got.join(expect, "id").collect()
    assert len(joined) == 137
    for r in joined:
        assert r.rank == r.exp_rank, (r.id, r.rank, r.exp_rank)
        assert r.bucket == r.exp_bucket, (r.id, r.bucket, r.exp_bucket)

    # n < k: every row its own bucket
    tiny = spark.createDataFrame([(i, float(i)) for i in range(4)], "id long, value double")
    tr = _global_rank(tiny, F.lit(0))
    got_tiny = {
        r.id: r.b
        for r in tr.select(
            "id", ranking.equidepth_bucket(F.col("global_rank"), n, 10).alias("b")
        ).collect()
    }
    assert got_tiny == {0: 1, 1: 2, 2: 3, 3: 4}


def test_dq_duplicate_rule_names_raise(spark):
    from etl_seattle_call_data_spark.operators import dq

    df = spark.createDataFrame([(1,)], "id int")
    rules = [
        dq.violates_when("check", F.col("id") < 0),
        dq.violates_when("check", F.col("id") > 10),
    ]
    import pytest as _pytest
    with _pytest.raises(ValueError, match="duplicate rule names"):
        dq.check_expectations(df, rules)


def test_observed_metrics_ride_the_action(spark):
    """dq.observed: metrics materialize from the SAME action (no second
    job over the pipeline prefix) and match an explicit recount."""
    from etl_seattle_call_data_spark.operators import dq as dq_ops
    from etl_seattle_call_data_spark.sources.registry import load_table

    df = load_table(spark, "/root/testdata/sf0.001", "orders").filter(F.col("o_totalprice") > 1000)
    gated, obs = dq_ops.observed(
        df,
        "gate_metrics",
        n_kept=F.count(F.lit(1)),
        total_price_cents=F.sum(F.round(F.col("o_totalprice") * 100).cast("long")),
    )
    n_action = gated.count()          # the one real action
    got = obs.get
    assert got["n_kept"] == n_action
    explicit = df.agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
    ).collect()[0][0]
    assert got["total_price_cents"] == explicit


def test_observed_without_metrics_raises(spark):
    from etl_seattle_call_data_spark.operators import dq

    df = spark.createDataFrame([(1,)], "id int")
    import pytest as _pytest
    with _pytest.raises(ValueError, match="at least one metric"):
        dq.observed(df, "empty_metrics")


def test_two_phase_rank_null_bucket_raises(spark):
    """Null coarse bucket / group key must fail loudly, not silently
    drop rows (documented non-null precondition)."""
    from pyspark.errors import PySparkRuntimeError, SparkRuntimeException
    from etl_seattle_call_data_spark.operators import ranking

    import pytest as _pytest
    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, 30)], "id int, v int"
    )
    def rank(frame, groups, coarse):
        return ranking.two_phase_scan(
            frame, groups, [("group_rank", ["v"], coarse, F.lit(1), "sum", False)]
        )

    with _pytest.raises((PySparkRuntimeError, SparkRuntimeException, Exception), match="non-null precondition"):
        rank(df, [], F.col("v") / 10).collect()
    ranked = rank(df, ["id"], F.coalesce(F.col("v") / 10, F.lit(0)))
    with _pytest.raises(Exception, match="non-null precondition"):
        grouped_null = spark.createDataFrame(
            [(None, 10), (1, 20)], "g int, v int"
        )
        rank(grouped_null, ["g"], F.col("v") / 10).collect()
    # conforming data still ranks exactly
    ok = {
        (r.id, r.group_rank)
        for r in ranked.filter(F.col("v").isNotNull()).collect()
    }
    assert ok == {(1, 1), (3, 1)}
