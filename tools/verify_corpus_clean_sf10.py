"""Close the corpus_clean_pipeline sf10 verification gap by SHARDING the
oracle's Jaccard stage by shingle.

The registered DuckDB oracle (plans/corpus.py::corpus_clean_pipeline)
is exact but monolithic: at sf10 (500k surviving docs) its shared-shingle
self-join intermediate spilled past the box's 76 GB of free disk. The
join's work is PERFECTLY partitionable by shingle — a shingle's candidate
pairs, its document-frequency count, and its contribution to every pair's
intersection size all live wholly within the rows of that one shingle —
so this tool executes the SAME oracle in K disk-bounded shards:

1. survivors (quality gate >= 20 tokens -> exact-dedup keep-min) — one
   cheap global pass, identical SQL to the registered oracle's
   survivors0/fp/keep_exact/survivors1 chain;
2. for each shard s in 0..K-1: restrict the shingle table to
   hash(shingle) % K = s, apply the df-cap (HAVING count(*) <= max_df —
   shard-local is globally exact because a shingle never crosses
   shards), and accumulate per-pair intersection counts and per-doc
   capped-set sizes into temp tables;
3. sum the shard partials (intersection counts AND sizes are additive
   over disjoint shingle sets), verify jaccard >= 0.5 — bit-identical
   to the monolithic `verified` CTE because ni and sz are exact
   integers and the one IEEE division happens once, after the sums;
4. run the registered oracle's cluster tail (edges -> recursive reach ->
   components -> representatives -> dropped -> final projection)
   verbatim over the small verified-pair table;
5. digest-compare (verify_oracle --digest machinery: in-engine count +
   SUM/XOR of per-row md5) against the Spark composite at sf10 — no row
   collect on either side.

Peak disk per shard is ~1/K of the monolithic join's intermediate, at
the price of re-tokenizing the corpus K times (CPU-cheap).

Usage:
    python tools/verify_corpus_clean_sf10.py --sf-dir .scaledata/sf10 --shards 16
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)

TOKENS = "list_filter(string_split(text, ' '), x -> x <> '')"
MAX_DF = 100  # plans/corpus.py::_JACCARD_MAX_DF


def shingle_rel(src: str) -> str:
    """The registered oracle's _duck_shingles over ``src``."""
    return f"""
    SELECT DISTINCT doc_id, unnest(
      CASE WHEN len(tk) >= 3
        THEN list_transform(range(0, len(tk) - 2), i -> array_to_string(tk[i+1:i+3], ' '))
        ELSE [] END) AS shingle
    FROM (SELECT doc_id, {TOKENS} AS tk FROM {src})
    """


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--sf-dir", default=".scaledata/sf10")
    ap.add_argument("--shards", type=int, default=16)
    ap.add_argument("--skip-spark", action="store_true",
                    help="oracle side only (print the oracle digest and stop)")
    ns = ap.parse_args()

    import duckdb

    from verify_oracle import duck_digest

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{ns.sf_dir}/documents.parquet')"
    )

    # -- stage 1: survivors (gate + exact dedup), identical to the oracle
    con.execute(f"""
        CREATE TEMP TABLE surv AS
        WITH survivors0 AS (
          SELECT doc_id, text, n_chars FROM documents
          WHERE len({TOKENS}) >= 20
        ),
        fp AS (
          SELECT doc_id, text, n_chars,
                 md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS f
          FROM survivors0
        ),
        keep_exact AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY f)
        SELECT fp.doc_id, fp.text, fp.n_chars FROM fp JOIN keep_exact USING (doc_id)
    """)
    n_surv = con.execute("SELECT count(*) FROM surv").fetchone()[0]
    print(f"survivors: {n_surv} docs", file=sys.stderr)

    # -- stage 2: sharded shingle join (df-cap + intersections + sizes)
    con.execute("CREATE TEMP TABLE inter_acc (id_a BIGINT, id_b BIGINT, ni BIGINT)")
    con.execute("CREATE TEMP TABLE sizes_acc (doc_id BIGINT, sz BIGINT)")
    for s in range(ns.shards):
        con.execute(f"""
            CREATE OR REPLACE TEMP TABLE sh_shard AS
            WITH sh_all AS ({shingle_rel("surv")}),
            mine AS (SELECT * FROM sh_all WHERE hash(shingle) % {ns.shards} = {s}),
            kept AS (SELECT shingle FROM mine GROUP BY shingle
                     HAVING count(*) <= {MAX_DF})
            SELECT a.doc_id, a.shingle FROM mine a JOIN kept USING (shingle)
        """)
        con.execute("""
            INSERT INTO inter_acc
            SELECT a.doc_id, b.doc_id, count(*)
            FROM sh_shard a JOIN sh_shard b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        """)
        con.execute(
            "INSERT INTO sizes_acc SELECT doc_id, count(*) FROM sh_shard GROUP BY 1"
        )
        con.execute("DROP TABLE sh_shard")
        print(f"shard {s + 1}/{ns.shards} done", file=sys.stderr)

    # -- stage 3: sum partials, one IEEE division per pair (post-sum, so
    # the float math is identical to the monolithic CTE's)
    con.execute("""
        CREATE TEMP TABLE pairs AS
        WITH sizes AS (SELECT doc_id, SUM(sz) AS sz FROM sizes_acc GROUP BY 1),
        inter AS (SELECT id_a, id_b, SUM(ni) AS ni FROM inter_acc GROUP BY 1, 2)
        SELECT id_a, id_b
        FROM inter JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id
        WHERE CAST(ni AS DOUBLE) / (sa.sz + sb.sz - ni) >= 0.5
    """)
    n_pairs = con.execute("SELECT count(*) FROM pairs").fetchone()[0]
    print(f"verified near-dup pairs: {n_pairs}", file=sys.stderr)

    # -- stage 4: the registered oracle's cluster tail, verbatim
    final_sql = f"""
    WITH RECURSIVE
    edges AS (SELECT id_a AS a, id_b AS b FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach(node, r) AS (
      SELECT a, a FROM edges
      UNION
      SELECT reach.node, e.b FROM reach JOIN edges e ON reach.r = e.a
    ),
    comp AS (SELECT node AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
             FROM reach GROUP BY node),
    reps AS (
      SELECT doc_id FROM (
        SELECT c.cluster_id, c.doc_id,
               ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                                  ORDER BY s.n_chars DESC, c.doc_id) AS rn
        FROM comp c JOIN surv s USING (doc_id)
      ) WHERE rn = 1
    ),
    dropped AS (
      SELECT doc_id FROM comp
      WHERE doc_id NOT IN (SELECT doc_id FROM reps)
    )
    SELECT s.doc_id,
           CAST(len(list_filter(string_split(s.text, ' '), x -> x <> '')) AS INTEGER) AS n_tokens,
           CAST(s.n_chars AS BIGINT) AS n_chars
    FROM surv s
    WHERE s.doc_id NOT IN (SELECT doc_id FROM dropped)
    """
    cols, od = duck_digest(con, final_sql)
    print(f"oracle digest (sharded, {ns.shards} shards): {od}", file=sys.stderr)
    if ns.skip_spark:
        print(f"ORACLE-ONLY: cols={cols} digest={od}")
        return 0

    # -- stage 5: Spark composite digest
    from etl_seattle_call_data_spark.operators.util import clear_caches
    from etl_seattle_call_data_spark.plans.queries import REGISTRY
    from etl_seattle_call_data_spark.session import get_spark
    from verify_oracle import spark_digest

    spark = get_spark(app_name="corpus-clean-sf10")
    clear_caches()
    sdf = REGISTRY["corpus_clean_pipeline"].spark(spark, ns.sf_dir)
    assert sorted(sdf.columns) == cols, (sorted(sdf.columns), cols)
    sd = spark_digest(sdf)
    assert sd == od, f"DIGEST MISMATCH: spark={sd} oracle={od}"
    print(f"corpus_clean_pipeline {ns.sf_dir}: VERIFIED (digest {sd})")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
