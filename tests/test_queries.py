"""Driver-contract queries: registry shape + spot semantic checks + the
DuckDB oracle gate at sf0.001 (the full gate runs via tools/check_oracle.py
and the driver at sf0.01)."""
import os

import duckdb
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from htmpark.queries import REGISTRY, resolve_sql

SF = "/root/testdata/sf0.001"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def test_contract_shape():
    qs = entrymod.queries()
    osql = entrymod.oracle_sql()
    assert len(qs) >= 20
    assert set(osql) <= set(qs)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")
    return con


# cheap, JVM-only queries get the full oracle comparison in pytest;
# the mapInPandas ones are covered by tools/check_oracle.py (slower)
FAST = [
    "rel_pricing_summary", "rel_top_revenue_nations", "rel_window_latest_orders",
    "rel_customers_without_orders", "rel_topk_expensive_parts",
    "rel_event_sessions", "dedup_exact", "text_quality", "text_token_count",
    "text_fingerprint", "text_top_terms", "sim_topk_bruteforce",
    "rel_events_json", "text_repetition", "dedup_substring",
]


@pytest.mark.parametrize("name", FAST)
def test_fast_query_matches_oracle(spark, duck, name):
    # Arrow fetch on both sides: the driver's hash is type-sensitive, and
    # fetchall() collapses DuckDB HUGEINT to int (round-1 masking bug)
    import sys
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))) + "/tools")
    from check_oracle import frame_hash

    fn, sql = REGISTRY[name]
    sql = resolve_sql(sql, SF)
    stab = fn(spark, SF).toArrow()
    scols = stab.column_names
    srows = [tuple(d[c] for c in scols) for d in stab.to_pylist()]
    dtab = duck.execute(sql).arrow()
    dcols = dtab.column_names
    drows = [tuple(d[c] for c in dcols) for d in dtab.to_pylist()]
    assert sorted(scols) == sorted(dcols)
    assert len(srows) == len(drows)
    assert frame_hash(scols, srows) == frame_hash(dcols, drows)


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    assert df.columns == ["doc_id", "text"]
    assert df.count() == 500


def test_flagship_parity_against_source(spark):
    """The flagship's whole point: engine-extracted text == original text."""
    fn, _ = REGISTRY["html_parse_extract"]
    got = {r.doc_id: r.text for r in fn(spark, SF).collect()}
    src = {r.doc_id: r.text
           for r in spark.read.parquet(f"{SF}/documents.parquet").collect()}
    assert got == src


def test_broadcast_join_in_plan(spark):
    fn, _ = REGISTRY["rel_top_revenue_nations"]
    plan = fn(spark, SF)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # dims must broadcast, never SMJ


def test_topk_uses_take_ordered(spark):
    fn, _ = REGISTRY["rel_topk_expensive_parts"]
    plan = fn(spark, SF)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan  # top-k, not global sort


def test_corpus_oracle_constants_match_live_parse():
    """corpus_oracle.py is generated; re-derive every fragment's template +
    counters from a live extract_doc and pin byte equality, including the
    substitution identity for a multi-digit index."""
    from htmpark.corpus import FRAGMENTS
    from htmpark.corpus_oracle import (CORPUS_FRAGMENT_MAIN,
                                       CORPUS_FRAGMENT_OUTLINKS,
                                       CORPUS_FRAGMENT_PARSE)
    from htmpark.extract import extract_doc

    assert len(CORPUS_FRAGMENT_PARSE) == len(FRAGMENTS)
    assert len(CORPUS_FRAGMENT_MAIN) == len(FRAGMENTS)
    mains = dict(CORPUS_FRAGMENT_MAIN)
    links = {}
    for f, seq, href in CORPUS_FRAGMENT_OUTLINKS:
        links.setdefault(f, []).append((seq, href))
    for f, tmpl, tok, tree, ok in CORPUS_FRAGMENT_PARSE:
        page = ("<!DOCTYPE html><html><head><title>T{i}</title></head><body>"
                + FRAGMENTS[f] + "</body></html>")
        live = extract_doc(page.encode("utf-8"))
        assert (live["text"], live["tok_errors"], live["tree_errors"],
                live["parse_ok"]) == (tmpl, tok, tree, ok)
        assert live["main_text"] == mains[f]
        assert live["outlinks"] == [h for _, h in
                                    sorted(links.get(f, []))]
        real = extract_doc(page.replace("{i}", "4242").encode("utf-8"))
        assert tmpl.replace("{i}", "4242") == real["text"]
        assert mains[f].replace("{i}", "4242") == real["main_text"]


def test_minhash_pairs_reuses_sig_subtree(spark):
    """The band self-join's two sides are the same signature DAG; AQE must
    reuse the shuffle stage (ReusedExchange) so signatures compute once.
    (Tests the pure builder: the registry entry wraps it in a per-session
    materialization whose plan is an InMemoryTableScan.)"""
    from htmpark.queries import q_dedup_minhash_pairs

    df = q_dedup_minhash_pairs(spark, SF)
    df.collect()  # AQE reuse is decided at runtime; inspect the final plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "ReusedExchange" in plan


def test_explode_queries_repartition_before_expansion(spark):
    """Row-expanding stages must re-parallelize BEFORE the explode: the
    repartition exchange has to sit below the Generate in the plan tree.
    text_repetition is pinned on its STANDALONE plan (signals=False) —
    the r12 default is a signal-frame projection with no explode of its
    own."""
    import htmpark.queries as Q

    plans = {name: REGISTRY[name][0](spark, SF)
             for name in ("dedup_substring", "text_decontamination")}
    for name, df in plans.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        gen = plan.index("Generate explode")
        rr = plan.index("RoundRobinPartitioning")
        assert rr > gen, f"{name}: repartition must feed the explode (below it)"
    # dedup_minhash_sig, dedup_simhash and standalone text_repetition
    # have no explode since r12 (map-local stages); the same rule holds
    # as repartition-below-the-row-expanding MAP stage
    maps = {"dedup_minhash_sig": REGISTRY["dedup_minhash_sig"][0](spark, SF),
            "dedup_simhash": REGISTRY["dedup_simhash"][0](spark, SF),
            "text_repetition": Q.q_text_repetition(spark, SF, signals=False)}
    for name, df in maps.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.index("RoundRobinPartitioning") > \
            plan.index("MapInPandas"), name


def test_probe_join_scale_guard(spark, monkeypatch):
    """Embedding probe pairing: exact broadcast below the crossover, sign-LSH
    bucket equi-join above it (never a broadcast of a huge probe table)."""
    from htmpark import queries as qm

    # default: small probe set -> Arrow-native mapInPandas scorer (r12;
    # exact, corpus side streams, probes ride a broadcast variable)
    dflt = qm.q_dedup_embedding_cosine(spark, SF)
    plan = dflt._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan

    # forced crossover: probe table must NOT broadcast-nested-loop; the
    # pairing becomes an equi-join on the sign-LSH bucket key
    monkeypatch.setattr(qm, "_MAX_BROADCAST_PROBES", 0)
    guarded = qm.q_dedup_embedding_cosine(spark, SF)
    gplan = guarded._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in gplan
    assert "CartesianProduct" not in gplan
    assert "_b" in gplan  # bucket equi-join key

    # semantics: bucketed results are a subset of the exact results
    exact = {(r.probe_id, r.vec_id, r.cos_e4) for r in dflt.collect()}
    approx = {(r.probe_id, r.vec_id, r.cos_e4) for r in guarded.collect()}
    assert approx <= exact


def test_curation_composes_gopher_and_lm_gates(spark):
    """The curation capstone's verdict must consume the repetition and
    unigram-LM signals (r8 verdict item 6): each flag matches the
    standalone signal query recomputed against the capstone's own
    thresholds, both gates genuinely discriminate at gate scale (some
    0s AND some 1s), and kept == AND of all five flags."""
    import htmpark.queries as Q

    rows = {r.doc_id: r for r in Q.q_curation_pipeline(spark, SF).collect()}
    rep = {r.doc_id: r for r in Q.q_text_repetition(spark, SF).collect()}
    lm = {r.doc_id: r.lm_cb for r in Q.q_text_unigram_lm(spark, SF).collect()}
    corpus_cb = (sum(r.lm_num for r in
                     Q.q_text_unigram_lm(spark, SF).collect())
                 * 100 // sum(r.n_tokens for r in
                              Q.q_text_unigram_lm(spark, SF).collect()))
    for did, r in rows.items():
        want_g = int(rep[did].rep_bp <= Q._GOPHER_MAX_REP_BP
                     and rep[did].n_distinct_words * 10000
                     >= Q._GOPHER_MIN_DISTINCT_BP * rep[did].n_words)
        assert r.gopher_ok == want_g, did
        assert r.lm_ok == int(lm[did] + Q._LM_SLACK_CB >= corpus_cb), did
        assert r.kept == (r.quality_ok & r.exact_keep & r.neardup_keep
                          & r.gopher_ok & r.lm_ok), did
    for col in ("gopher_ok", "lm_ok"):
        vals = {getattr(r, col) for r in rows.values()}
        assert vals == {0, 1}, col


def test_probe_rows_upper_bound(tmp_path):
    """The probe-regime crossover reads a SOUND upper bound from parquet
    row-group min/max stats (r8 verdict item 7): exact on dense ids,
    correctly conservative on sparse id spaces (where the r8-era n//k
    density estimate under-counted by up to k× and could pick a broadcast
    that does not fit), None when stats are unusable."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from htmpark.queries import _probe_rows_upper_bound

    # dense ids (the generated tables): bound == exact probe count
    assert _probe_rows_upper_bound(SF, "documents", "doc_id", 97) == \
        sum(1 for i in range(500) if i % 97 == 0)
    assert _probe_rows_upper_bound(SF, "embeddings", "vec_id", 100) == \
        sum(1 for i in range(500) if i % 100 == 0)

    # sparse id space: EVERY id a multiple of 100 -> all 50 rows are
    # probes; the old dense estimate said 50 // 100 = 0 (broadcast),
    # the stats bound covers all of them
    sparse = tmp_path / "sparse"
    sparse.mkdir()
    pq.write_table(pa.table({"doc_id": [i * 100 for i in range(50)]}),
                   str(sparse / "documents.parquet"))
    b = _probe_rows_upper_bound(str(sparse), "documents", "doc_id", 100)
    assert b is not None and b >= 50
    # and never more than the row count
    assert b <= 50

    # missing column / missing table -> None (scale unknown)
    assert _probe_rows_upper_bound(str(sparse), "documents", "no_col", 97) is None
    assert _probe_rows_upper_bound(str(sparse), "missing", "doc_id", 97) is None


def test_unknown_probe_scale_routes_to_bucketed(spark, tmp_path):
    """A footer without statistics means SCALE UNKNOWN and takes the
    bucketed path (r8 ADVICE: the old default re-enabled the forced probe
    broadcast exactly when scale was unknown).  End-to-end: an embeddings
    table written WITHOUT statistics must plan the sign-LSH bucket
    equi-join, never a broadcast nested loop."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from htmpark.queries import q_dedup_embedding_cosine

    emb = [[float((7 * i + d) % 13) - 6.0 for d in range(16)]
           for i in range(40)]
    tab = pa.table({"vec_id": pa.array(range(40), type=pa.int64()),
                    "embedding": pa.array(emb, type=pa.list_(pa.float32()))})
    pq.write_table(tab, str(tmp_path / "embeddings.parquet"),
                   write_statistics=False)
    df = q_dedup_embedding_cosine(spark, str(tmp_path))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "_b" in plan  # bucket equi-join key


def test_sessionization_single_exchange(spark):
    """Both window passes and the final (user_id, session_id) aggregate must
    reuse ONE hashpartitioning(user_id) exchange: HashPartitioning(user_id)
    satisfies the aggregate's clustered distribution because user_id is a
    subset of its keys."""
    fn, _ = REGISTRY["rel_event_sessions"]
    plan = fn(spark, SF)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "hashpartitioning(user_id" in plan


def test_lsh_bucket_width():
    """Sign-LSH must use >= 16 hyperplanes (bucket count grows with n, not a
    fixed small constant — the round-1 scale-killer)."""
    from htmpark.queries import _LSH_BITS, _MH_BANDS, _MH_PERMS

    assert _LSH_BITS >= 16
    assert _MH_PERMS >= 16 and _MH_BANDS >= 4


def test_median_two_phase_selection(spark):
    """Exact median must not funnel a whole group through one task: phase 1
    locates the rank-k bucket on the per-group HISTOGRAM, phase 2 ranks only
    that bucket (broadcast-gated).  Identity with the naive single-window
    definition is asserted, plus the bounded-candidate scale property."""
    from pyspark.sql.window import Window

    from htmpark.queries import _cents, q_rel_order_value_median, t as tbl

    df = q_rel_order_value_median(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # the phase-2 bucket gate

    o = tbl(spark, SF, "orders")
    v = o.select("o_orderpriority",
                 _cents(F.col("o_totalprice")).alias("cents"), "o_orderkey")
    w = Window.partitionBy("o_orderpriority").orderBy("cents", "o_orderkey")
    cnt = Window.partitionBy("o_orderpriority")
    naive = (v.withColumn("rn", F.row_number().over(w))
              .withColumn("n", F.count("*").over(cnt))
              .where(F.col("rn") == F.floor((F.col("n") + 1) / 2)))
    exp = {(r.o_orderpriority, r.cents, r.n) for r in naive.collect()}
    got = {(r.o_orderpriority, r.median_cents, r.n_orders) for r in df.collect()}
    assert got == exp

    # scale property: the target bucket holds a small fraction of its group
    pops = (v.withColumn("bkt", F.expr("cents div 65536"))
             .groupBy("o_orderpriority", "bkt").count().collect())
    by_group: dict = {}
    for r in pops:
        by_group.setdefault(r.o_orderpriority, {})[r.bkt] = r["count"]
    for g, med, _n in got:
        buckets = by_group[g]
        frac = buckets[med // 65536] / sum(buckets.values())
        assert frac < 0.2, f"{g}: median bucket holds {frac:.0%} of the group"


def test_two_phase_median_property(spark):
    """two_phase_group_median == python sorted-multiset kth element on
    randomized (group, value, tiebreak) datasets, exercised with a small
    bucket width so the histogram/locate/rank phases all do real work."""
    from hypothesis import given, settings, strategies as st

    from htmpark.queries import two_phase_group_median

    @settings(max_examples=12, deadline=None)
    @given(st.lists(st.tuples(st.integers(0, 2), st.integers(0, 500),
                              st.integers(0, 10**6)),
                    min_size=1, max_size=60))
    def run(rows):
        df = spark.createDataFrame(rows, "g int, v long, tb long")
        got = {(r.g): (r.median, r.n)
               for r in two_phase_group_median(df, "g", "v", "tb",
                                               bucket_width=16).collect()}
        expected = {}
        by_g: dict = {}
        for g, v, tb in rows:
            by_g.setdefault(g, []).append((v, tb))
        for g, vals in by_g.items():
            vals.sort()
            expected[g] = (vals[(len(vals) + 1) // 2 - 1][0], len(vals))
        assert got == expected

    run()


def test_clusters_memoized_per_session(spark):
    """Default-path cluster assignment is computed once per (session,
    sf_dir): the memo pins ONE persisted label node, the second call's
    projection reads its cached blocks, and an injected-pairs call
    bypasses the memo."""
    from htmpark import queries as qm
    from htmpark.queries import (clear_candidate_pairs_cache,
                                 q_dedup_clusters, q_dedup_minhash_pairs)

    clear_candidate_pairs_cache()
    a = q_dedup_clusters(spark, SF)
    key = (id(spark), SF, "clusters")
    node1 = qm._SESSION_MEMO[key]
    b = q_dedup_clusters(spark, SF)
    assert qm._SESSION_MEMO[key] is node1  # fixpoint ran once
    assert "InMemoryTableScan" in \
        b._jdf.queryExecution().executedPlan().toString()
    injected = q_dedup_clusters(spark, SF,
                                pairs=q_dedup_minhash_pairs(spark, SF))
    assert qm._SESSION_MEMO[key] is node1
    assert ({(r.doc_id, r.cluster_id) for r in injected.collect()}
            == {(r.doc_id, r.cluster_id) for r in a.collect()})
    clear_candidate_pairs_cache()


def test_kmv_two_phase_and_merge_agreement(spark):
    """Bottom-k selection: phase 1 windows over (event_type, salt) — never
    the bare 5-value group key — and the explicit mergeable-sketch query
    agrees with the KMV query on every estimate."""
    from htmpark.queries import q_sketch_distinct_kmv, q_sketch_kminima_merge

    kmv_df = q_sketch_distinct_kmv(spark, SF)
    plan = kmv_df._jdf.queryExecution().executedPlan().toString()
    # the phase-1 row_number window must include salt in its partition spec
    # (windowspecdefinition(event_type, salt, ...)), never the bare group key
    import re
    specs = re.findall(r"windowspecdefinition\(event_type#\d+,?\s*(\w*)", plan)
    assert specs and any(s.startswith("salt") for s in specs), plan[:2000]

    kmv = {r.event_type: (r.n_exact, r.kmv_estimate) for r in kmv_df.collect()}
    mrg = {r.event_type: r.kmv_estimate
           for r in q_sketch_kminima_merge(spark, SF).collect()}
    assert set(mrg) == set(kmv)
    for ty, est in mrg.items():
        assert est == kmv[ty][1], f"{ty}: merge={est} kmv={kmv[ty][1]}"


def test_ivf_assignment_aggregates_map_side(spark):
    """IVF corpus assignment: the argmax runs INSIDE the Arrow-native
    scorer (r12) — n assignment rows leave the mapInPandas stage, never
    n*k scored rows (the r2 window shape shuffled every scored row;
    the pre-r12 max_by shape still shuffled n pre-reduced rows but paid
    the Catalyst lambda fold per pair)."""
    fn, _ = REGISTRY["sim_ivf_topk"]
    plan = fn(spark, SF)._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    assert "partial_max_by" not in plan


def test_probe_pairs_never_counts_eagerly(spark, monkeypatch):
    """Building a footer-gated probe query must not launch a count job
    (the r1->r2 bench regression): the regime is read from parquet
    footers, in the broadcast regime and in the large one (caps 0)."""
    from pyspark.sql import DataFrame

    from htmpark import queries as qm

    def boom(self):
        raise AssertionError("probe regime selection ran an eager count")

    builders = (qm.q_dedup_embedding_cosine, qm.q_sim_topk_bruteforce,
                qm.q_dedup_ngram_jaccard, qm.q_text_decontamination,
                qm.q_sim_quantized_topk, qm.q_sim_ivf_topk,
                qm.q_sim_kmeans_update)
    monkeypatch.setattr(DataFrame, "count", boom)
    for fn in builders:
        fn(spark, SF)
    monkeypatch.setattr(qm, "_MAX_BROADCAST_PROBES", 0)
    monkeypatch.setattr(qm, "_MAX_BROADCAST_PROBE_DOCS", 0)
    for fn in builders:
        fn(spark, SF)
    tbl = qm.t(spark, SF, "embeddings")
    qm._probe_pairs(tbl, qm._embedding_probes(tbl))


def test_asof_attribution_single_exchange_and_python_oracle(spark):
    """The as-of join must be the one-exchange sort-merge plan (no join
    operator at all), and must equal an independent pure-Python as-of
    computation of the same events."""
    fn, _ = REGISTRY["rel_asof_attribution"]
    df = fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan

    ev = sorted(
        ((r.user_id, r.ts, r.event_id, r.event_type)
         for r in spark.read.parquet(f"{SF}/events.parquet").collect()),
        key=lambda x: (x[0], x[1], x[3] != "purchase", x[2]))
    expected = set()
    last_p: dict = {}
    for uid, ts, eid, ty in ev:
        if ty == "purchase":
            last_p[uid] = (ts, eid)
        elif ty == "click":
            p = last_p.get(uid)
            expected.add((uid, eid, ts, p[1] if p else None,
                          p[0] if p else None))
    got = {(r.user_id, r.click_id, r.click_ts, r.purchase_id, r.purchase_ts)
           for r in df.collect()}
    assert got == expected


def test_rolling_revenue_range_frame(spark):
    """RANGE frame must include every same-day order (order-independent)
    and match a brute-force python trailing-90-day sum."""
    fn, _ = REGISTRY["rel_rolling_revenue"]
    got = {(r.o_custkey, r.o_orderkey): (r.day, r.cents, r.roll90_cents)
           for r in fn(spark, SF).collect()}
    by_cust: dict = {}
    for (ck, ok), (day, cents, _roll) in got.items():
        by_cust.setdefault(ck, []).append((day, cents))
    for (ck, ok), (day, cents, roll) in got.items():
        want = sum(c for d, c in by_cust[ck] if day - 89 <= d <= day)
        assert roll == want, (ck, ok)


def test_range_join_matches_bruteforce(spark):
    """Bucketed range join must equal the O(n*m) brute-force pairing, and
    its plan must be a hash equi-join on the bucket (no cartesian)."""
    fn, _ = REGISTRY["rel_range_join"]
    df = fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    ev = spark.read.parquet(f"{SF}/events.parquet").collect()
    import datetime
    anchor = datetime.datetime(1970, 1, 1)
    us = lambda ts: int((ts - anchor).total_seconds() * 1_000_000)
    purchases = [us(r.ts) for r in ev if r.event_type == "purchase"]
    expected = {}
    for r in ev:
        if r.event_type == "error":
            e_us = us(r.ts)
            expected[r.event_id] = sum(
                1 for p in purchases if abs(e_us - p) <= 60_000_000)
    got = {r.err_id: r.n_purchases_60s for r in df.collect()}
    assert got == expected


def test_stratified_sample_rates_and_stability(spark):
    """Every kept row obeys its stratum's bucket threshold; the kept set is
    a pure function of doc_id (re-run identical); realized rates land near
    the configured percentages."""
    from htmpark.queries import _STRATA_PCT

    fn, _ = REGISTRY["text_stratified_sample"]
    rows = fn(spark, SF).collect()
    assert rows
    for r in rows:
        assert r.keep_pct == _STRATA_PCT[r.lang]
        assert r.bucket < r.keep_pct
    again = {(r.doc_id, r.lang) for r in fn(spark, SF).collect()}
    assert again == {(r.doc_id, r.lang) for r in rows}

    total = spark.read.parquet(f"{SF}/documents.parquet") \
        .groupBy("lang").count().collect()
    by_lang_total = {r.lang: r["count"] for r in total}
    kept: dict = {}
    for r in rows:
        kept[r.lang] = kept.get(r.lang, 0) + 1
    assert kept.get("zh", 0) == by_lang_total.get("zh", 0)  # 100% stratum
    en_rate = kept.get("en", 0) / by_lang_total["en"]
    assert 0.02 <= en_rate <= 0.25  # 10% target, small-sample slack


def test_hash_split_is_stable_and_complete(spark):
    """Split assignment is a pure function of doc_id (append-stable) with
    the 90/5/5 rule exactly."""
    fn, _ = REGISTRY["text_hash_split"]
    rows = fn(spark, SF).collect()
    assert len(rows) == 500
    for r in rows:
        want = "train" if r.bucket < 90 else ("val" if r.bucket < 95 else "test")
        assert r.split == want
    again = {(r.doc_id, r.split) for r in fn(spark, SF).collect()}
    assert again == {(r.doc_id, r.split) for r in rows}


def test_candidate_pairs_cache_is_shared_and_exact(spark):
    """candidate_pairs memoizes one persisted DataFrame per (session,
    sf_dir) and returns exactly the pure builder's rows."""
    from htmpark.queries import (candidate_pairs, clear_candidate_pairs_cache,
                                 q_dedup_minhash_pairs)

    clear_candidate_pairs_cache()
    a = candidate_pairs(spark, SF)
    b = candidate_pairs(spark, SF)
    assert a is b
    assert a.storageLevel.useMemory
    pure = {(r.doc_a, r.doc_b) for r in q_dedup_minhash_pairs(spark, SF).collect()}
    assert {(r.doc_a, r.doc_b) for r in a.collect()} == pure
    clear_candidate_pairs_cache()


def test_multimodal_stub_and_plumbing(spark):
    from htmpark import multimodal as mm

    with pytest.raises(NotImplementedError):
        mm.decode_image(b"\x89PNG1234")
    assert mm.sniff_mime(b"\x89PNGxxxx") == "image/png"
    assert mm.frame_sample_indices(100, 4) == [0, 25, 50, 75]
    assert mm.frame_sample_indices(2, 5) == [0, 1]

    df = spark.range(20).select(
        F.col("id"), F.encode(F.concat(F.lit("payload"), F.col("id")), "UTF-8").alias("payload"))
    out = mm.image_meta_stage(df, fake=True).collect()
    assert len(out) == 20
    assert all(r.mime == "application/octet-stream" for r in out)
    assert all(r.height >= 1 and r.width >= 1 for r in out)


def test_substring_dedup_matches_bruteforce(spark):
    """Window-dedup semantics cross-checked against an independent pure-
    Python computation (every 8-token window, global min-doc owner)."""
    import collections
    import hashlib

    from htmpark.queries import q_dedup_substring

    rows = duckdb.sql(
        f"SELECT doc_id, text FROM read_parquet('{SF}/documents.parquet')"
    ).fetchall()
    W = 8
    owner = {}
    per_doc = collections.defaultdict(lambda: [0, 0])
    occs = []
    for doc_id, text in sorted(rows):
        w = text.split(" ")
        for i in range(len(w) - W + 1):
            h = hashlib.md5(" ".join(w[i:i + W]).encode()).hexdigest()
            owner.setdefault(h, doc_id)
            occs.append((doc_id, h))
    for doc_id, h in occs:
        per_doc[doc_id][0] += 1
        per_doc[doc_id][1] += owner[h] < doc_id
    got = {r.doc_id: (r.n_windows, r.n_dup_windows, r.dup_bp)
           for r in q_dedup_substring(spark, SF).collect()}
    want = {d: (n, dup, dup * 10000 // n) for d, (n, dup) in per_doc.items()}
    assert got == want


def test_repetition_signal_bounds(spark):
    from htmpark.queries import q_text_repetition

    rows = q_text_repetition(spark, SF).collect()
    assert rows
    for r in rows:
        assert 1 <= r.n_distinct_words <= r.n_words
        assert r.n_bigrams == r.n_words - 1
        assert 1 <= r.top_bigram_n <= r.n_bigrams
        assert 0 < r.rep_bp <= 10000


def test_kmeans_update_partitions_all_vectors(spark):
    """M-step invariants: every vector lands in exactly one centroid
    (sum of members over one dim == corpus size), each centroid's
    member count is identical across its 64 dims, and the E-step runs
    inside the Arrow-native scorer (r12) with the component rows still
    partially aggregated map-side below the exchange."""
    from htmpark.queries import q_sim_kmeans_update

    df = q_sim_kmeans_update(spark, SF)
    rows = df.collect()
    n_vecs = spark.read.parquet(f"{SF}/embeddings.parquet").count()
    per_cent = {}
    for r in rows:
        per_cent.setdefault(r.cent_id, set()).add(r.n_members)
    assert all(len(v) == 1 for v in per_cent.values())
    assert sum(next(iter(v)) for v in per_cent.values()) == n_vecs
    assert {r.dim for r in rows} == set(range(64))

    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    assert "partial_count" in plan  # map-side partial agg below exchange


def test_two_phase_quantiles_property(spark):
    """two_phase_group_quantiles == python sorted-multiset rank selection
    (k = ceil(n*p/100)) on randomized data, small bucket width so every
    phase does real work; all percentiles served by one histogram."""
    from hypothesis import given, settings, strategies as st

    from htmpark.queries import two_phase_group_quantiles

    @settings(max_examples=10, deadline=None)
    @given(st.lists(st.tuples(st.integers(0, 2), st.integers(0, 500),
                              st.integers(0, 10**6)),
                    min_size=1, max_size=60))
    def run(rows):
        df = spark.createDataFrame(rows, "g int, v long, tb long")
        got = {(r.g, r.p): (r.quantile, r.n)
               for r in two_phase_group_quantiles(
                   df, "g", "v", "tb", ps=(50, 90, 99),
                   bucket_width=16).collect()}
        expected = {}
        by_g: dict = {}
        for g, v, tb in rows:
            by_g.setdefault(g, []).append((v, tb))
        for g, vals in by_g.items():
            vals.sort()
            n = len(vals)
            for p in (50, 90, 99):
                expected[(g, p)] = (vals[(n * p + 99) // 100 - 1][0], n)
        assert got == expected

    run()


def test_json_extraction_null_on_malformed(spark):
    """Pin the semantics the rel_events_json oracle mirrors: Spark's
    get_json_object returns NULL (never errors) on malformed JSON."""
    df = spark.createDataFrame(
        [('{"k": 5}',), ("not json",), ("{broken",), (None,)], "props string")
    vals = [r.k for r in df.select(
        F.get_json_object("props", "$.k").cast("bigint").alias("k")).collect()]
    assert vals == [5, None, None, None]


def test_corpus_heading_constants_match_live_parse():
    """CORPUS_FRAGMENT_HEADINGS is generated; re-derive every fragment's
    heading list from a live parse and pin equality, including the '{i}'
    substitution identity for a multi-digit index."""
    from htmpark.corpus import FRAGMENTS
    from htmpark.corpus_oracle import CORPUS_FRAGMENT_HEADINGS
    from htmpark.parser import Parser
    from htmpark.sinks import NodeTableSink

    def headings_of(page):
        sink = NodeTableSink()
        Parser().parse(page.encode("utf-8"), sink)
        by_parent = {}
        for nid, pid, kind, _n, _ns, _a, text, _d, _s, _l in sink.rows:
            if kind == "text":
                by_parent.setdefault(pid, []).append((nid, text))
        out = []
        for nid, _p, kind, name, _ns, _a, _t, _d, _s, _l in sink.rows:
            if kind == "element" and name in {"h1", "h2", "h3", "h4", "h5", "h6"}:
                txt = "".join(t for _, t in sorted(by_parent.get(nid, [])))
                if txt:
                    out.append((name, txt))
        return out

    want = {}
    for f, seq, name, tmpl in CORPUS_FRAGMENT_HEADINGS:
        want.setdefault(f, []).append((name, tmpl))
    for f, frag in enumerate(FRAGMENTS):
        page = ("<!DOCTYPE html><html><head><title>T{i}</title></head><body>"
                + frag + "</body></html>")
        assert headings_of(page) == want.get(f, [])
        live = headings_of(page.replace("{i}", "4242"))
        assert [(n, t.replace("{i}", "4242"))
                for n, t in want.get(f, [])] == live


def test_clusters_collapsed_edges_equal_full_pairs(spark):
    """The exact-collapse edge set must yield IDENTICAL connected
    components to the full member-level pair graph (identical texts share
    signatures, so member->rep reachability already exists there)."""
    from htmpark.queries import (candidate_pairs,
                                 clear_candidate_pairs_cache,
                                 q_dedup_clusters)

    via_collapse = {(r.doc_id, r.cluster_id)
                    for r in q_dedup_clusters(spark, SF).collect()}
    via_full = {(r.doc_id, r.cluster_id)
                for r in q_dedup_clusters(
                    spark, SF, pairs=candidate_pairs(spark, SF)).collect()}
    assert via_collapse == via_full
    clear_candidate_pairs_cache()


def test_multimodal_resize_and_feature_stages(spark):
    """Resize + feature-extract plumbing: fixed output schema, stateless
    per-row determinism across partitionings, stub raises without fake."""
    from htmpark import multimodal as mm

    df = spark.range(40).select(
        F.col("id"),
        F.encode(F.concat(F.lit("payload-bytes-"), F.col("id")), "UTF-8")
         .alias("payload"))
    r1 = {r.id: (r.rh, r.rw, r.scale_num, r.scale_den, r.resized_checksum)
          for r in mm.resize_stage(df).collect()}
    r2 = {r.id: (r.rh, r.rw, r.scale_num, r.scale_den, r.resized_checksum)
          for r in mm.resize_stage(df.repartition(7)).collect()}
    assert r1 == r2 and len(r1) == 40
    assert all(v[0] == 224 and v[1] == 224 for v in r1.values())

    f1 = {r.id: tuple(r.features) for r in mm.feature_stage(df).collect()}
    assert len(f1) == 40
    for i, feats in f1.items():
        assert len(feats) == 8
        assert sum(feats) == len(f"payload-bytes-{i}".encode())

    # no in-container codec for raw text payloads: the real path must
    # fail loudly instead of hashing container headers as "content"
    with pytest.raises(NotImplementedError):
        mm.content_bytes(b"payload-bytes-0")


def test_bmp_codec_golden_and_roundtrip():
    """Pin the BMP byte layout against a hand-checked golden literal
    (header fields, bottom-up row order, 4-byte padding), then the
    decode inverse: decode(encode(px)) == px for awkward widths (pad 1-3
    bytes) and the top-down (negative height) variant."""
    import struct

    from htmpark import multimodal as mm

    px = bytes([1, 2, 3, 4, 5, 6, 0x11, 0x12, 0x13, 0x14, 0x15, 0x16])
    golden = (b"BMF\x00\x00\x00\x00\x00\x00\x006\x00\x00\x00(\x00\x00\x00"
              b"\x02\x00\x00\x00\x02\x00\x00\x00\x01\x00\x18\x00"
              b"\x00\x00\x00\x00\x10\x00\x00\x00\x13\x0b\x00\x00\x13\x0b"
              b"\x00\x00\x00\x00\x00\x00\x00\x00\x00\x00"
              b"\x11\x12\x13\x14\x15\x16\x00\x00"  # bottom row first
              b"\x01\x02\x03\x04\x05\x06\x00\x00")
    assert mm.encode_bmp(2, 2, px) == golden
    m = mm.decode_image(golden)
    assert (m["height"], m["width"], m["channels"]) == (2, 2, 3)
    assert m["pixels"] == px and m["pix_checksum"] == sum(px) % 65536
    assert mm.sniff_mime(golden) == "image/bmp"

    for w, h in [(1, 1), (2, 3), (3, 2), (5, 4), (4, 5)]:
        p = bytes((7 * i + 3) % 256 for i in range(w * h * 3))
        assert mm.decode_image(mm.encode_bmp(w, h, p))["pixels"] == p

    # top-down storage (negative height) decodes to the same pixels
    td = bytearray(golden)
    td[22:26] = struct.pack("<i", -2)
    td[54:62], td[62:70] = golden[62:70], golden[54:62]
    assert mm.decode_image(bytes(td))["pixels"] == px

    with pytest.raises(ValueError):
        mm.decode_image(golden[:30])  # truncated header
    bad = bytearray(golden)
    bad[28] = 8  # 8-bpp: unsupported depth must fail loudly
    with pytest.raises(ValueError):
        mm.decode_image(bytes(bad))
    # negative WIDTH has no top-down analogue: it must fail loudly,
    # not slip past the truncation bound via a negative stride and
    # return empty pixels (r8 review)
    negw = bytearray(golden)
    negw[18:22] = struct.pack("<i", -2)
    with pytest.raises(ValueError):
        mm.decode_image(bytes(negw))
    # pixel offset pointing INSIDE the headers (e.g. 0) must fail loudly,
    # not silently decode header bytes as pixels (r8 ADVICE)
    lowoff = bytearray(golden)
    lowoff[10:14] = struct.pack("<I", 0)
    with pytest.raises(ValueError):
        mm.decode_image(bytes(lowoff))
    lowoff[10:14] = struct.pack("<I", 53)  # one short of 14 + 40
    with pytest.raises(ValueError):
        mm.decode_image(bytes(lowoff))


def test_wav_codec_roundtrip():
    """WAV via the stdlib wave module: sample-exact round-trip including
    both 16-bit extremes, unsigned checksum, and the loud failure on
    non-16-bit PCM."""
    import io
    import wave as wavemod

    from htmpark import multimodal as mm

    samples = [0, 1, -1, 32767, -32768]
    payload = mm.encode_wav(samples, 12000)
    m = mm.decode_audio(payload)
    assert m["samples"] == samples and m["sample_rate"] == 12000
    assert m["n_samples"] == 5 and m["n_channels"] == 1
    assert m["sample_checksum"] == (0 + 1 + 65535 + 32767 + 32768) % 65536
    assert mm.sniff_mime(payload) == "audio/wav"
    assert mm.content_bytes(payload) == \
        b"\x00\x00\x01\x00\xff\xff\xff\x7f\x00\x80"

    buf = io.BytesIO()
    with wavemod.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(1)  # 8-bit PCM: decode must refuse
        w.setframerate(8000)
        w.writeframes(b"\x00\x01")
    with pytest.raises(ValueError):
        mm.decode_audio(buf.getvalue())

    # RIFF is a container FAMILY: WebP shares the outer magic but is
    # not audio — the sniffer must not route it to the wave decoder,
    # and the decoder itself raises the documented ValueError (never a
    # leaked wave.Error) on RIFF-but-not-WAVE or truncated payloads
    webp = b"RIFF\x24\x00\x00\x00WEBPVP8 " + b"\x00" * 16
    assert mm.sniff_mime(webp) == "application/octet-stream"
    with pytest.raises(ValueError):
        mm.decode_audio(webp)
    with pytest.raises(ValueError):
        mm.decode_audio(payload[:len(payload) - 4])  # truncated samples


def test_resize_nn_known_grid():
    """Nearest-neighbor index math pinned on a hand-computed case: 2x2 ->
    4x4 replicates each source pixel into a 2x2 block; downscale 4x4 ->
    2x2 picks rows/cols 0 and 2 (src = dst*src_dim//dst_dim)."""
    from htmpark import multimodal as mm

    px = bytes([1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12])  # 2x2 BGR
    up = mm.resize_nn(px, 2, 2, 4, 4)
    rows = [up[i * 12:(i + 1) * 12] for i in range(4)]
    assert rows[0] == rows[1] == bytes([1, 2, 3, 1, 2, 3, 4, 5, 6, 4, 5, 6])
    assert rows[2] == rows[3] == bytes([7, 8, 9, 7, 8, 9, 10, 11, 12, 10, 11, 12])
    down = mm.resize_nn(up, 4, 4, 2, 2)
    assert down == px  # picks (0,0),(0,2),(2,0),(2,2) == the originals


def test_real_media_stages_end_to_end(spark):
    """resize_stage + feature_stage over REAL decoded BMP pixels and the
    mm_decode query's WAV branch: no fakes anywhere, partition-invariant,
    and the feature histogram counts PIXEL bytes (not container bytes)."""
    from htmpark import multimodal as mm
    from htmpark.queries import _mm_synth_payload

    import pandas as pd

    pays = [(did, _mm_synth_payload(did)) for did in range(0, 40, 2)]
    df = spark.createDataFrame(pays, "id long, payload binary")

    r1 = {r.id: (r.scale_num, r.resized_checksum)
          for r in mm.resize_stage(df, 8, 8, fake=False).collect()}
    r2 = {r.id: (r.scale_num, r.resized_checksum)
          for r in mm.resize_stage(df.repartition(5), 8, 8,
                                   fake=False).collect()}
    assert r1 == r2 and len(r1) == 20
    for did, p in pays:
        m = mm.decode_image(p)
        want = sum(mm.resize_nn(m["pixels"], m["height"], m["width"],
                                8, 8)) % 65536
        assert r1[did] == (m["height"], want)

    feats = {r.id: tuple(r.features)
             for r in mm.feature_stage(df, fake=False).collect()}
    for did, p in pays:
        m = mm.decode_image(p)
        assert sum(feats[did]) == len(m["pixels"])  # pixels, not payload
        assert len(m["pixels"]) != len(p)


def test_quantiles_caller_column_collision(spark):
    """Library contract: inputs already carrying 'p'/'quantile'/'n'
    columns must not collide with internals (review finding — the mid-plan
    percentile column is now underscore-prefixed like every temporary)."""
    from htmpark.queries import two_phase_group_quantiles

    df = spark.createDataFrame(
        [(0, 5, 1, 99), (0, 9, 2, 98), (1, 7, 3, 97)],
        "g int, v long, tb long, p long")
    rows = two_phase_group_quantiles(df, "g", "v", "tb",
                                     ps=(50,), bucket_width=4).collect()
    got = {(r.g, r.p): r.quantile for r in rows}
    assert got == {(0, 50): 5, (1, 50): 7}


def test_decontamination_unbroadcast_regime(spark, monkeypatch):
    """Past the probe-doc cap the probe windows must drop their broadcast
    hint and produce identical results through the hash-partitioned join
    (the too-big-to-broadcast crossover)."""
    from htmpark import queries as qm

    dflt = qm.q_text_decontamination(spark, SF)
    assert _hinted(dflt)
    a = {(r.doc_id, r.n_windows, r.n_contaminated, r.contam_bp)
         for r in dflt.collect()}
    monkeypatch.setattr(qm, "_MAX_BROADCAST_PROBE_DOCS", 0)
    big = qm.q_text_decontamination(spark, SF)
    assert not _hinted(big)
    b = {(r.doc_id, r.n_windows, r.n_contaminated, r.contam_bp)
         for r in big.collect()}
    assert a == b and a


def _hinted(df) -> bool:
    return "ResolvedHint (strategy=broadcast)" in \
        df._jdf.queryExecution().analyzed().toString()


def test_ngram_jaccard_unbroadcast_regime(spark, monkeypatch):
    """Past the probe crossover, the probe shingle set must drop its
    forced hint — a plain hash-partitioned equi-join; AQE may still
    adaptively broadcast a genuinely small runtime side, which is fine —
    and the results must be identical (r7 verdict item 2)."""
    from htmpark import queries as qm

    dflt = qm.q_dedup_ngram_jaccard(spark, SF)
    assert _hinted(dflt)  # gate scale: probe set broadcasts
    plan = dflt._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan

    monkeypatch.setattr(qm, "_MAX_BROADCAST_PROBE_DOCS", 0)
    big = qm.q_dedup_ngram_jaccard(spark, SF)
    assert not _hinted(big)
    a = {tuple(r) for r in dflt.collect()}
    b = {tuple(r) for r in big.collect()}
    assert a == b and a


def test_host_dim_broadcast_crossover(spark, monkeypatch):
    """The three web host-dim joins (robots rules x2, crawl delays) are
    broadcast only while the host space is under _MAX_BROADCAST_HOSTS;
    above it the forced hint must disappear from every analyzed plan
    (host-key equi-join, AQE free to adapt) with identical results
    (r7 verdict item 3)."""
    import htmpark.queries as Q

    Q.clear_candidate_pairs_cache()
    gate_d = Q.q_web_robots_gate(spark, SF)
    frontier_d = Q.q_web_crawl_frontier(spark, SF)
    budget_d = Q.q_web_politeness_budget(spark, SF)
    assert _hinted(gate_d) and _hinted(budget_d)
    ref = {name: {tuple(r) for r in df.collect()}
           for name, df in [("gate", gate_d), ("frontier", frontier_d),
                            ("budget", budget_d)]}

    monkeypatch.setattr(Q, "_MAX_BROADCAST_HOSTS", 0)
    Q.clear_candidate_pairs_cache()  # frontier memo must rebuild gated
    try:
        gate_u = Q.q_web_robots_gate(spark, SF)
        frontier_u = Q.q_web_crawl_frontier(spark, SF)
        budget_u = Q.q_web_politeness_budget(spark, SF)
        for df in (gate_u, frontier_u, budget_u):
            assert not _hinted(df)
        for name, df in [("gate", gate_u), ("frontier", frontier_u),
                         ("budget", budget_u)]:
            assert {tuple(r) for r in df.collect()} == ref[name], name
    finally:
        Q.clear_candidate_pairs_cache()  # drop the gated memo for peers


def test_lsh_bits_derivation():
    """Sign-LSH bit width is DERIVED from the footer row count: the floor
    (= the static oracle's width) at every gate scale, the log2 rule above
    it, capped at the embedding dimensionality."""
    from htmpark.queries import _LSH_BITS, _LSH_MAX_BITS, _derive_lsh_bits

    assert _derive_lsh_bits(None) == _LSH_BITS
    for gate_n in (500, 2000, 5000, 500_000):
        assert _derive_lsh_bits(gate_n) == _LSH_BITS
    assert _derive_lsh_bits(10**12) == 37  # ceil(log2(1e12 / 8))
    assert _derive_lsh_bits(10**30) == _LSH_MAX_BITS


def test_lsh_collapse_equality_and_linear_output(spark, tmp_path):
    """collapse=True must be row-identical on a duplicate-free corpus and
    emit LINEAR (m-1) output on an m-copy vector cluster where the raw
    self-join emits m(m-1)/2 — with identical connected components."""
    from htmpark.queries import q_sim_lsh_buckets

    rows = lambda df: {(r.vec_a, r.vec_b, r.cos_e4) for r in df.collect()}
    assert rows(q_sim_lsh_buckets(spark, SF)) == \
        rows(q_sim_lsh_buckets(spark, SF, collapse=False))

    # m identical vectors + two singletons, staged as a parquet corpus
    m = 200
    dup = [1.0] * 64
    vecs = [(i, dup) for i in range(m)]
    vecs.append((m, [1.0] * 32 + [-1.0] * 32))
    vecs.append((m + 1, [-1.0] * 64))
    spark.createDataFrame(vecs, "vec_id long, embedding array<float>") \
        .coalesce(1).write.mode("overwrite") \
        .parquet(str(tmp_path / "embeddings.parquet"))

    collapsed = rows(q_sim_lsh_buckets(spark, str(tmp_path)))
    full = rows(q_sim_lsh_buckets(spark, str(tmp_path), collapse=False))
    assert len(collapsed) == m - 1          # one member->rep edge each
    assert len(full) == m * (m - 1) // 2    # the quadratic hazard

    def components(pairs, n):
        lbl = list(range(n))

        def find(x):
            while lbl[x] != x:
                lbl[x] = lbl[lbl[x]]
                x = lbl[x]
            return x

        for a, b, _ in pairs:
            ra, rb = find(a), find(b)
            lbl[max(ra, rb)] = min(ra, rb)
        return [find(i) for i in range(n)]

    assert components(collapsed, m + 2) == components(full, m + 2)


def test_probe_regime_is_self_derived(spark, monkeypatch):
    """The probe queries size their probe set from the parquet footer
    (%-100 rule): at gate scale that stays broadcast, and a crossover
    below the derived count must flip the SAME call to the bucketed
    plan — the decision lives in the query."""
    from htmpark import queries as qm

    fns = (qm.q_dedup_embedding_cosine, qm.q_sim_topk_bruteforce,
           qm.q_sim_quantized_topk)
    for fn in fns:
        dflt = fn(spark, SF)._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" in dflt  # r12 Arrow-native broadcast regime
    # sf0.001's footers bound the probe set at 500 // 100 = 5 > 3: bucketed
    monkeypatch.setattr(qm, "_MAX_BROADCAST_PROBES", 3)
    for fn in fns:
        flipped = fn(spark, SF)._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" not in flipped
        assert "BroadcastNestedLoopJoin" not in flipped
        assert "CartesianProduct" not in flipped


def test_stream_parts_guards_non_numeric_conf():
    """A deployment that sets spark.sql.shuffle.partitions=auto (vanilla
    Spark rejects conf.set("auto") but managed runtimes inject it at
    session build) must not crash the gate stream queries: the scoped
    clamp is skipped, nothing is written back."""
    from htmpark.queries import _SHUFFLE_PARTS, _scoped_conf, _stream_parts

    class FakeConf:
        def __init__(self):
            self.value = "auto"
            self.writes = []

        def get(self, key):
            return self.value

        def set(self, key, value):
            self.writes.append(value)
            self.value = value

    class FakeSpark:
        conf = FakeConf()

    fs = FakeSpark()
    with _scoped_conf(fs, {_SHUFFLE_PARTS: _stream_parts(fs)}):
        assert fs.conf.value == "auto"
    assert fs.conf.value == "auto" and fs.conf.writes == []


def test_session_cache_teardown_frees_real_nodes(spark, tmp_path):
    """The clusters memo must hold the PERSISTED node itself (unpersist
    frees actual blocks), and stream sink dirs queue for teardown."""
    from htmpark import queries as qm

    qm.clear_candidate_pairs_cache()
    qm.q_dedup_clusters(spark, SF)
    cached = qm._SESSION_MEMO[(id(spark), SF, "clusters")]
    assert cached.storageLevel.useMemory  # the node unpersist() acts on

    # the star=False baseline's persisted label table is un-memoized but
    # must still queue for teardown
    before = set(qm._SESSION_MEMO)
    qm.q_dedup_clusters(spark, SF, star=False)
    baseline = [qm._SESSION_MEMO[k] for k in set(qm._SESSION_MEMO) - before]
    assert len(baseline) == 1 and baseline[0].storageLevel.useMemory

    fake = tmp_path / "dead_sink"
    fake.mkdir()
    qm._STREAM_SINK_DIRS.append(str(fake))
    qm.clear_candidate_pairs_cache()
    assert not fake.exists()
    assert not qm._STREAM_SINK_DIRS
    assert not qm._SESSION_MEMO


class _FakeFrame:
    """Just enough of a DataFrame for session_memo: a session that can
    be stopped, the ``is_cached`` flag, and a counted persist."""

    def __init__(self, stopped=False, cached=False):
        from types import SimpleNamespace as NS

        sc = NS(isStopped=lambda: stopped)
        self.sparkSession = NS(sparkContext=NS(_jsc=NS(sc=lambda: sc)))
        self.is_cached = cached
        self.counts = 0

    def persist(self):
        self.is_cached = True
        return self

    def count(self):
        self.counts += 1
        return 7


def test_session_memo_evicts_stopped_sessions():
    """A memo entry whose session has stopped is dropped on the next
    session_memo lookup (its cached blocks are gone with the executors)
    while a live entry survives; build=None only looks; a lazy build is
    persisted, counted once and tagged with its rows, and an already
    persisted build is stored as it is, with no count."""
    from htmpark import queries as qm

    owner = object()
    saved = dict(qm._SESSION_MEMO)
    qm._SESSION_MEMO.clear()
    try:
        dead, live = _FakeFrame(stopped=True), _FakeFrame()
        qm._SESSION_MEMO[(id(owner), "sf", "dead")] = dead
        qm._SESSION_MEMO[(id(owner), "sf", "live")] = live
        assert qm.session_memo(owner, "sf", "live") is live
        assert set(qm._SESSION_MEMO) == {(id(owner), "sf", "live")}
        assert qm.session_memo(owner, "sf", "missing") is None
        assert (id(owner), "sf", "missing") not in qm._SESSION_MEMO

        lazy = _FakeFrame()
        assert qm.session_memo(owner, "sf", "lazy", lambda: lazy) is lazy
        assert qm.session_memo(owner, "sf", "lazy", lambda: None) is lazy
        assert lazy.is_cached and lazy.counts == 1
        assert lazy._htmpark_rows == 7
        done = _FakeFrame(cached=True)
        assert qm.session_memo(owner, "sf", "done", lambda: done) is done
        assert done.counts == 0 and not hasattr(done, "_htmpark_rows")
    finally:
        qm._SESSION_MEMO.clear()
        qm._SESSION_MEMO.update(saved)


def test_schedule_cycle2_holds_one_cycle1_node(spark):
    """q_web_crawl_schedule_cycle2 memoizes its persisted cycle-1 table:
    repeated calls in one session hold ONE node with the same rows, and
    teardown unpersists it."""
    from htmpark import queries as qm

    qm.clear_candidate_pairs_cache()
    a = sorted(map(tuple, qm.q_web_crawl_schedule_cycle2(spark, SF).collect()))
    b = sorted(map(tuple, qm.q_web_crawl_schedule_cycle2(spark, SF).collect()))
    assert a == b and a
    nodes = [v for k, v in qm._SESSION_MEMO.items()
             if k[2] == "schedule_cycle1"]
    assert len(nodes) == 1 and nodes[0].storageLevel.useMemory
    qm.clear_candidate_pairs_cache()
    assert not nodes[0].storageLevel.useMemory


def test_broadcast_scorers_empty_probe_side(spark, tmp_path):
    """An embeddings table with no probe rows (no vec_id % 100 == 0) and
    no centroid rows (no vec_id % 50 == 7) takes the broadcast regime
    (the footer bound is 0) and must return an empty result from every
    Arrow-native scorer, as the pre-r12 join plans did, instead of
    raising on the empty collected side."""
    from htmpark import queries as qm

    d = str(tmp_path)
    spark.createDataFrame(
        [(i, [float(i), 1.0, -2.0, 0.5]) for i in range(1, 7)],
        "vec_id long, embedding array<float>",
    ).coalesce(1).write.parquet(f"{d}/embeddings.parquet")
    e = qm.t(spark, d, "embeddings")
    assert qm._np_probe_broadcast(e.limit(0), "vec_id", "embedding") is None
    assert qm._np_cosine_candidates(e, None, top_n=5).collect() == []
    for q in (qm.q_dedup_embedding_cosine, qm.q_sim_topk_bruteforce,
              qm.q_sim_quantized_topk, qm.q_sim_ivf_topk,
              qm.q_sim_kmeans_update):
        assert q(spark, d).collect() == [], q.__name__


def test_label_prop_loop_width_covers_edge_rows(spark):
    """_label_prop_labels sizes its loop width from its edge table's row
    bound: forward + reverse + one self-loop per vertex is up to 4 rows
    per pair.  At 20,000 pairs 3x rounds to 1 partition and 4x to 2, so
    the static edge side and the label table must be 2 wide."""
    import re

    from htmpark import queries as qm

    pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6)],
                                  "doc_a long, doc_b long")
    pairs._htmpark_rows = 20_000
    assert qm._loop_partitions(spark, 3 * 20_000) == 1
    assert qm._loop_partitions(spark, 4 * 20_000) == 2
    labels = qm._label_prop_labels(spark, pairs)
    try:
        plan = labels._jdf.queryExecution().executedPlan().toString()
        assert re.search(r"hashpartitioning\(dst#\d+L, 2\), "
                         r"REPARTITION_BY_NUM", plan)
        assert labels.rdd.getNumPartitions() == 2
        assert sorted(map(tuple, labels.collect())) == [
            (1, 1), (2, 1), (3, 1), (5, 5), (6, 5)]
    finally:
        labels.unpersist()


def test_pack_sequences_two_phase_prefix_sum(spark):
    """Sequence packing must be an exact global prefix sum computed WITHOUT
    a global single-task window: per-row results reproduce a serial cumsum,
    the answer is invariant to the bucket count (the two-phase scan's only
    free parameter), and the plan's per-doc window is partitioned by the
    bucket key (a doc_id-ordered window spec lacking _bkt would be the
    whole corpus through one task)."""
    import re

    from htmpark.queries import q_text_pack_sequences

    df = q_text_pack_sequences(spark, SF)
    rows = sorted((r.doc_id, r.n_tokens, r.start_tok,
                   r.first_seq, r.last_seq, r.n_seqs) for r in df.collect())
    off = 0
    for doc_id, n, s, fs, ls, k in rows:
        assert s == off, (doc_id, s, off)
        assert fs == s // 2048 and ls == (s + n - 1) // 2048
        assert k == ls - fs + 1 and n >= 1
        off += n
    alt = sorted((r.doc_id, r.start_tok) for r in
                 q_text_pack_sequences(spark, SF, n_buckets=7).collect())
    assert alt == [(d, s) for d, _, s, _, _, _ in rows]

    plan = df._jdf.queryExecution().executedPlan().toString()
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert any("_bkt" in s and "doc_id" in s for s in specs), specs
    assert not any("doc_id" in s and "_bkt" not in s for s in specs), specs


def test_quantized_topk_recall_and_regimes(spark, monkeypatch):
    """int8 quantization must preserve neighbor structure (recall@5 vs the
    exact float cosine top-5 stays high on the gate set) and share the
    broadcast/bucketed regime machinery (forced bucketed plan contains no
    BroadcastNestedLoopJoin)."""
    from htmpark import queries as qm

    exact = {}
    for r in qm.q_sim_topk_bruteforce(spark, SF).collect():
        exact.setdefault(r.probe_id, set()).add(r.vec_id)
    quant = {}
    for r in qm.q_sim_quantized_topk(spark, SF).collect():
        quant.setdefault(r.probe_id, set()).add(r.vec_id)
    assert set(quant) == set(exact)
    hits = sum(len(exact[p] & quant[p]) for p in exact)
    total = sum(len(exact[p]) for p in exact)
    # the gate embeddings are UNIFORM on the sphere — cosines bunch near 0
    # with razor-thin top-5 margins, the worst case for quantization noise
    # (same caveat as the IVF recall curve in BENCH/BASELINE.md); measured
    # 0.64 here vs near-1.0 on clustered real embeddings.  The floor
    # guards against structural breakage (sign flips, scale bugs), not
    # noise: a broken quantizer scores ~5/25 on this data.
    assert hits / total >= 0.5, f"quantized recall@5 = {hits}/{total}"

    monkeypatch.setattr(qm, "_MAX_BROADCAST_PROBES", 0)
    plan = (qm.q_sim_quantized_topk(spark, SF)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]


def test_inverted_index_posting_state_is_bounded(spark):
    """The posting-sample build must follow the KMV k-minima shape: the
    row_number gate windows over (term, _salt) — never the bare term —
    and no collect_set ever aggregates raw doc_ids (a stop-word would
    buffer O(corpus) ids in one agg buffer).  Postings stay capped and
    sorted."""
    import re

    from htmpark.queries import _IDX_POSTING_CAP, q_text_inverted_index

    df = q_text_inverted_index(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "collect_set" not in plan, plan[:2000]
    specs = re.findall(r"windowspecdefinition\(term#\d+,?\s*(\w*)", plan)
    assert specs and all(s.startswith("_salt") for s in specs), specs

    rows = df.collect()
    assert rows
    for r in rows:
        # postings is a comma-joined STRING (driver-canonicalizer contract)
        ids = [int(x) for x in r.postings.split(",")]
        assert len(ids) <= _IDX_POSTING_CAP
        assert ids == sorted(ids)
        assert r.df >= len(ids) and r.cf >= r.df


def test_cc_star_variant_matches_label_prop(spark):
    """Large-star/small-star CC must produce identical components to the
    label-propagation default — on the gate corpus, on a 100-deep chain
    (the graph shape it exists for), and on seeded random graphs checked
    against a python union-find."""
    import random

    from htmpark.queries import (cc_star_labels, clear_candidate_pairs_cache,
                                 q_dedup_clusters)

    a = {(r.doc_id, r.cluster_id)
         for r in q_dedup_clusters(spark, SF).collect()}  # default = auto
    b = {(r.doc_id, r.cluster_id)
         for r in q_dedup_clusters(spark, SF, star=False).collect()}
    assert a == b
    clear_candidate_pairs_cache()
    c = {(r.doc_id, r.cluster_id)
         for r in q_dedup_clusters(spark, SF, star=True).collect()}
    assert a == c
    clear_candidate_pairs_cache()

    # adaptive mode on a DEEP graph: label-prop cannot converge within the
    # pass cap on a 60-deep chain, so auto must cut over to star and still
    # produce the right components
    deep = spark.createDataFrame([(i, i + 1) for i in range(60)],
                                 "doc_a long, doc_b long")
    auto_deep = {(r.doc_id, r.cluster_id)
                 for r in q_dedup_clusters(spark, SF, pairs=deep).collect()}
    assert auto_deep == {(i, 0) for i in range(61)}

    chain = spark.createDataFrame([(i, i + 1) for i in range(100)],
                                  "doc_a long, doc_b long")
    lbl = {(r.doc_id, r.cluster_id)
           for r in cc_star_labels(spark, chain).collect()}
    assert lbl == {(i, 0) for i in range(101)}

    # self-pairs: a vertex whose ONLY pair is (v, v) is still a vertex —
    # the label-prop baseline and the recursive-CTE oracle both emit it
    # as its own singleton component, so star must too (and a self-pair
    # on a connected vertex must change nothing)
    selfy = spark.createDataFrame([(1, 2), (5, 5), (2, 2)],
                                  "doc_a long, doc_b long")
    got_star = {(r.doc_id, r.cluster_id)
                for r in q_dedup_clusters(spark, SF, pairs=selfy).collect()}
    got_lbl = {(r.doc_id, r.cluster_id)
               for r in q_dedup_clusters(spark, SF, pairs=selfy,
                                         star=False).collect()}
    assert got_star == got_lbl == {(1, 1), (2, 1), (5, 5)}

    rng = random.Random(42)
    for _trial in range(3):
        n = 60
        raw = [(rng.randrange(n), rng.randrange(n)) for _ in range(50)]
        edges = [(x, y) for x, y in raw if x != y]
        got = {(r.doc_id, r.cluster_id)
               for r in cc_star_labels(
                   spark,
                   spark.createDataFrame(edges, "doc_a long, doc_b long")
               ).collect()}
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for x, y in edges:
            rx, ry = find(x), find(y)
            parent[max(rx, ry)] = min(rx, ry)
        verts = {v for e in edges for v in e}
        assert got == {(v, find(v)) for v in verts}


def test_registry_outputs_are_scalar(spark):
    """Driver-contract invariant: NO queries() output column may be an
    array/map/struct.  The binding correctness driver canonicalizes via a
    pandas sort_values across all columns, which raises "unhashable type"
    on list/dict cells BEFORE comparing anything — the second
    hash-representation trap it has sprung (r1: HUGEINT vs int64; r4:
    text_inverted_index's array postings shipped driver-red despite being
    oracle-exact).  Complex values must be serialized to strings
    (concat_ws / array_to_string) on both engines."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    bad = []
    for name, (fn, _sql) in REGISTRY.items():
        for field in fn(spark, SF).schema.fields:
            if isinstance(field.dataType, (ArrayType, MapType, StructType)):
                bad.append(f"{name}.{field.name}: {field.dataType.simpleString()}")
    assert not bad, f"non-scalar driver output columns: {bad}"


# the only options a registry builder takes beyond (spark, sf_dir): each
# is set by a program caller or used by a test as a reference or input
_BUILDER_OPTIONS = {
    "q_dedup_clusters": {"pairs", "star"},
    "q_curation_pipeline": {"clusters", "signals"},
    "q_text_quality_filter": {"signals"},
    "q_text_repetition": {"signals"},
    "q_text_unigram_lm": {"signals"},
    "q_sim_lsh_buckets": {"collapse"},
    "q_web_crawl_schedule": {"horizon"},
    "q_text_pack_sequences": {"n_buckets"},
    "q_dedup_winnowing": {"fingerprint_rows"},
}


def test_registry_builders_take_only_caller_options():
    """Every caller runs a registry builder as fn(spark, sf_dir), and the
    oracle texts are built from module constants: a tuning or regime
    option no caller sets would be a configuration the oracle gate never
    checks.  Extra parameters must be in the _BUILDER_OPTIONS list."""
    import inspect

    for name, (fn, _sql) in REGISTRY.items():
        params = list(inspect.signature(fn).parameters)
        assert params[:2] == ["spark", "sf_dir"], name
        extra = set(params[2:]) - _BUILDER_OPTIONS.get(fn.__name__, set())
        assert not extra, (name, sorted(extra))


def test_registry_order_is_safe():
    """The driver verifies only the first 50 registry entries; entries past
    that window must be >=3x driver-green, green in the LATEST recorded
    round, and byte-untouched since their fingerprints were recorded (r4
    ADVICE: the order was a load-bearing manual invariant with no
    enforcement).  tools/check_registry_order.py recomputes all three
    from CORRECTNESS_r*.json + source fingerprints.

    Exit 2 = ROTATION PENDING: the driver dropped a new CORRECTNESS
    file after the last builder commit (untracked in git) and the tree
    is fully safe as of the previous one — the known round-boundary
    state, reported as a loud SKIP whose message is the round-opening
    instruction rather than a spurious red.  Committing that file
    without re-recording the manifest flips it to a REAL exit-1
    failure (the r10 ADVICE hazard)."""
    import subprocess
    import sys as _sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    res = subprocess.run(
        [_sys.executable, os.path.join(root, "tools", "check_registry_order.py")],
        capture_output=True, text=True)
    if res.returncode == 2:
        pytest.skip("rotation pending (driver drop postdates last "
                    "builder commit): " + res.stdout.strip())
    assert res.returncode == 0, res.stdout + res.stderr


def test_registry_order_pending_vs_unsafe(tmp_path):
    """The ROTATION-PENDING classifier's two ingredients, pinned in
    isolation: (a) evaluate() judges the same tree safe as-of the
    vouched driver file and unsafe as-of a newer one the manifest has
    not seen (the exact judging-time delta); (b) _untracked()
    distinguishes a driver drop (untracked file -> True) from a
    committed artifact (tracked -> False), and fails CLOSED (False)
    outside a git repo so the strict exit-1 path wins."""
    import importlib.util
    import json
    import subprocess

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "cro", os.path.join(root, "tools", "check_registry_order.py"))
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)

    # one window entry + one tail entry, tail 3x green, vouched by a
    # gate-scale manifest recorded against r09
    registry = {f"q{i}": None for i in range(m.WINDOW)}
    registry["tailq"] = None
    current = {name: "fp" for name in registry}
    hist = {name: [(f"CORRECTNESS_r0{k}.json", True) for k in (7, 8, 9)]
            for name in registry}
    replica = {"latest_driver": "CORRECTNESS_r09.json", "sf": "sf0.01",
               "queries": {"tailq": "fp"}}
    stored = dict(current)

    safe, _, _ = m.evaluate(registry, current, hist,
                            "CORRECTNESS_r09.json", stored, replica)
    assert not safe
    stale, _, _ = m.evaluate(registry, current, hist,
                             "CORRECTNESS_r10.json", stored, replica)
    assert any("not green in CORRECTNESS_r10.json" in p for p in stale)

    repo = tmp_path / "r"
    repo.mkdir()
    subprocess.run(["git", "init", "-q", str(repo)], check=True)
    (repo / "tracked.json").write_text("{}")
    (repo / "dropped.json").write_text("{}")
    subprocess.run(["git", "-C", str(repo), "add", "tracked.json"],
                   check=True)
    assert m._untracked(str(repo), "dropped.json") is True
    assert m._untracked(str(repo), "tracked.json") is False
    assert m._untracked(str(tmp_path), "dropped.json") is False
    # a gitignored artifact would make pending a PERMANENT skip (the
    # untracked -> tracked transition can never fire) -> stay strict
    (repo / ".gitignore").write_text("dropped.json\n")
    assert m._untracked(str(repo), "dropped.json") is False

    # a red row in the dropped file blocks the pending downgrade: the
    # next session must SEE the gate failure, not skip past it
    green = {"rows_match": True, "schema_match": True,
             "hash_match": True, "err": None}
    red_err = dict(green, err="boom")
    red_hash = dict(green, hash_match=False)
    f = tmp_path / "c.json"
    f.write_text(json.dumps({"a": green, "b": green}))
    assert m.all_rows_green(str(f)) is True
    f.write_text(json.dumps({"a": green, "b": red_err}))
    assert m.all_rows_green(str(f)) is False
    f.write_text(json.dumps({"a": red_hash}))
    assert m.all_rows_green(str(f)) is False
    f.write_text("{}")  # empty: no evidence -> strict
    assert m.all_rows_green(str(f)) is False
    f.write_text("not json")
    assert m.all_rows_green(str(f)) is False
    assert m.all_rows_green(str(tmp_path / "missing.json")) is False

    # the as-of-prev re-judgment must EXCLUDE the untracked file's
    # rows: 2 committed greens + 1 green in the dropped file is NOT a
    # mature tail entry as of the last commit
    hist2 = {name: [(f"CORRECTNESS_r0{k}.json", True) for k in (7, 8, 9)]
             for name in registry}
    hist2["tailq"] = [("CORRECTNESS_r08.json", True),
                      ("CORRECTNESS_r09.json", True),
                      ("CORRECTNESS_r10.json", True)]  # r10 = the drop
    hist_prev = {name: [(fl, ok) for fl, ok in rounds
                        if fl != "CORRECTNESS_r10.json"]
                 for name, rounds in hist2.items()}
    inflated, _, _ = m.evaluate(registry, current, hist2,
                                "CORRECTNESS_r09.json", stored, replica)
    honest, _, _ = m.evaluate(registry, current, hist_prev,
                              "CORRECTNESS_r09.json", stored, replica)
    assert not inflated  # the unfiltered history would grant pending
    assert any("only 2 driver-green rounds" in p for p in honest)


def test_replica_manifest_requires_gate_scale():
    """A replica manifest recorded at sf0.001 (check_oracle's default
    scale) must NOT vouch for tail entries — only gate-scale (sf0.01+)
    runs carry driver-equivalent evidence (r8 review: a bare
    check_oracle.py run would otherwise overwrite the manifest and
    green the tail on the weakest scale)."""
    import importlib.util

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "cro", os.path.join(root, "tools", "check_registry_order.py"))
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    rep = {"latest_driver": "CORRECTNESS_r07.json", "sf": "sf0.001",
           "queries": {"q": "fp"}}
    assert not m.replica_fresh(rep, "CORRECTNESS_r07.json", "q", "fp")
    # at-gate AND above-gate scales vouch (numeric predicate, r9 review:
    # exact tuple membership refused stronger-than-gate evidence)
    for sf in ("sf0.01", "sf0.1", "sf1", "sf10"):
        rep["sf"] = sf
        assert m.replica_fresh(rep, "CORRECTNESS_r07.json", "q", "fp"), sf
    for sf in ("sf0.001", "sf0.009", "", None, "garbage", "sf", "sfx"):
        rep["sf"] = sf
        assert not m.replica_fresh(rep, "CORRECTNESS_r07.json", "q", "fp"), sf


def test_latest_correctness_sorts_numerically(tmp_path):
    """Driver-round discovery must sort by NUMERIC round (r8 ADVICE):
    lexicographic max mis-sorts r100 < r99 and breaks on padding drift
    (r8 vs r08), silently matching replica freshness against the wrong
    driver file."""
    import importlib.util

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "cro2", os.path.join(root, "tools", "check_registry_order.py"))
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    for r in ["r08", "r9", "r99", "r100"]:
        (tmp_path / f"CORRECTNESS_{r}.json").write_text("{}")
    assert m.latest_correctness(str(tmp_path)) == "CORRECTNESS_r100.json"
    files = [os.path.basename(f) for f in m.correctness_files(str(tmp_path))]
    assert files == ["CORRECTNESS_r08.json", "CORRECTNESS_r9.json",
                     "CORRECTNESS_r99.json", "CORRECTNESS_r100.json"]


def test_replica_manifest_not_recorded_below_gate_scale():
    """check_oracle must never OVERWRITE a gate-scale replica manifest
    with a sub-gate (sf0.001) one — the order checker would reject it and
    the valid evidence would be silently lost (r8 ADVICE)."""
    import importlib.util

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "co_guard", os.path.join(root, "tools", "check_oracle.py"))
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    path = os.path.join(root, "tools", "replica_manifest.json")
    before = open(path).read() if os.path.exists(path) else None
    try:
        m._record_replica_manifest("/root/testdata/sf0.001", [])
        after = open(path).read() if os.path.exists(path) else None
        assert after == before
    finally:
        if before is not None:
            open(path, "w").write(before)
        elif os.path.exists(path):
            os.remove(path)


def test_event_funnel_single_user_exchange(spark):
    """The funnel's window + per-user conditional-min aggregate must share
    ONE hashpartitioning(user_id) exchange (user_id is a subset of the
    aggregate's keys); the only other hash exchange is the tiny cohort
    aggregate."""
    fn, _ = REGISTRY["rel_event_funnel"]
    plan = fn(spark, SF)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 2
    # plans print top-down: the bottom exchange is the user_id one that
    # serves both the window and the per-user aggregate
    assert "hashpartitioning(user_id" in plan


def test_unigram_lm_reuses_term_exchange(spark):
    """The STANDALONE (signals=False) plan's vocabulary aggregate and
    scoring join probe are the same term-partitioned (doc_id, term)
    subtree; AQE must materialize that exchange once (ReusedExchange in
    the final plan), so term counts shuffle a single time.  The r12
    DEFAULT path instead projects the session signal-frame memo: its
    plan must read the cached frame and never scan documents."""
    from htmpark.queries import q_text_unigram_lm

    df = q_text_unigram_lm(spark, SF, signals=False)
    df.collect()  # exchange reuse is decided at runtime
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "ReusedExchange" in plan

    fn, _ = REGISTRY["text_unigram_lm"]
    dplan = fn(spark, SF)._jdf.queryExecution().executedPlan().toString()
    # the memo path executes as a scan of the persisted signal frame;
    # any FileScan below it is the InMemoryRelation's STORED build plan
    # (printed, not re-executed), so assert the cache hit itself
    assert "InMemoryTableScan" in dplan


def test_label_noise_reuses_pairs_memo(spark):
    """dedup_label_noise consumes the session's memoized candidate-pair
    materialization: with the memo warm its plan reads the cached table,
    never a second banding DAG."""
    from htmpark.queries import candidate_pairs

    candidate_pairs(spark, SF)  # warm the memo
    fn, _ = REGISTRY["dedup_label_noise"]
    plan = fn(spark, SF)._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan


def test_url_canonical_aliases_collapse(spark):
    """The canonicalizer's whole point: urls that alias the same page
    (case, :80, www., fragment, param order, trailing slash) share one
    canon_url; scheme differences stay distinct.  Also pins the SURT
    shape (reversed host labels + ')' + path)."""
    fn, _ = REGISTRY["web_url_canonical"]
    rows = {r.doc_id: r for r in fn(spark, SF).collect()}
    # doc 0: every mess at once -> fully cleaned: case/port/www/dot/
    # fragment/param-order/trailing-slash normalized, URL-in-path kept
    # verbatim after the FIRST-'://' authority split, reserved %2f
    # uppercased, unreserved %7e/%41 DECODED to ~/A (RFC 3986
    # §6.2.2.2), invalid %zq untouched
    assert rows[0].canon_url == ("http://site0.example.com"
                                 "/A/b/go/HTTPS://t.example/z/e%2F~A%zq"
                                 "?a=1&b=2")
    assert rows[0].surt_key == \
        "com,example,site0)/A/b/go/HTTPS://t.example/z/e%2F~A%zq"
    # doc 2: none of the path mess (2 % 8, % 9, % 11 all nonzero)
    assert rows[2].canon_url == "http://site2.example.com/A/b?a=1&b=2"
    assert rows[2].surt_key == "com,example,site2)/A/b"
    # doc 11: FQDN trailing-dot host form aliases the plain host
    assert ".example.com." not in rows[11].canon_url
    assert rows[11].canon_url.split("://")[1].split("/")[0] == \
        "site4.example.com"
    # messy raw urls collapse: far fewer canon urls than raw ones
    raw = {r.url for r in rows.values()}
    canon = {r.canon_url for r in rows.values()}
    assert len(canon) < len(raw)
    # scheme is NOT normalized away: http vs https stay distinct pages
    assert {c.split("://")[0] for c in canon} == {"http", "https"}
    # default-port strip is scheme-conditional (r5 ADVICE): https+:80 is
    # a distinct origin and KEEPS its port (doc 3: https, %3==0 -> :80);
    # https+:443 is stripped (doc 1: https, %3==1 & %5==1 -> :443)
    assert ":80" in rows[3].canon_url
    assert ":443" not in rows[1].canon_url and \
        rows[1].canon_url.startswith("https://")
    # http+:443 kept (doc 16: even/http, %3==1 & %5==1)
    assert ":443" in rows[16].canon_url


def test_main_content_strips_chrome(spark):
    """html_main_content drops nav/footer/script/style/svg/textarea
    chrome and link-dominated short blocks, keeps prose — per-fragment
    behavior pinned against the corpus templates in
    test_corpus_oracle_constants_match_live_parse; here the Spark leg:
    fragment 1's nav links never appear, fragment 5's script/style text
    never appears, parity text still carries both."""
    fn, _ = REGISTRY["html_main_content"]
    rows = {r.url: r for r in fn(spark, SF).collect()}
    r1 = rows["https://host002.example.com/p/1"]  # fragment 1
    assert "Post 1" in r1.main_text
    assert "home" not in r1.main_text and "contact" not in r1.main_text
    r5 = rows["https://host000.example.com/p/5"]  # fragment 5
    assert r5.main_text == "T5\nvisible 5"
    assert r5.ok == 1 and r5.main_chars == len(r5.main_text)


def test_web_corpus_queries_have_no_exchange(spark):
    """The two r6 corpus-web queries are stateless maps end-to-end:
    JVM synthesis -> mapInPandas parse -> (posexplode) -> row-local
    codegen.  Zero exchanges — the plan that scales to 10^12 pages by
    partition count alone."""
    for name in ("html_main_content", "web_outlink_canonical"):
        fn, _ = REGISTRY[name]
        plan = fn(spark, SF)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, name


def test_canon_mirror_matches_spark(spark):
    """_canon_mirror/_canon_mirror_host — the Python twins the outlink
    oracle builder uses for its literals — differentially locked to the
    Spark-side _with_canon_url on a batch of messy (port-free) urls:
    host case/www/FQDN-dot, %XX hex case, invalid escapes, URL-in-path,
    fragments, unsorted params, trailing slashes."""
    from htmpark.queries import (_canon_mirror, _canon_mirror_host,
                                 _with_canon_url)

    urls = [
        "HTTP://WWW.Ex.COM./A%2f/",
        "https://Site.ORG/x?b=2&a=1#f",
        "https://h.io/go/https://t.example/u",
        "http://a.b.c/%ff%GG%0a%zz",
        "https://WWW.W.De./",
        "http://x.y/p%2fq?z=%2f#%2f",
        "https://dot.net./only",
        "http://U.V/A/b/",
        "https://q.r/?b=1&a=2",
        "http://plain.example/path",
        "https://h.io?a=1",
        "http://h.io#f",
        "https://q.r/a?x?y",
        "http://x.y/p#f?z",
        # §6.2.2.2 unreserved decode vs §6.2.2.1 hex uppercase vs
        # invalid passthrough, mixed in one path; %25 ('%') must NOT
        # decode (it is reserved-adjacent: decoding would re-open the
        # escape) and the query keeps its raw escapes
        "http://pe.example/%7euser/%41%2d%2e%5f~/%2f%25%00?k=%7e",
        "https://pe.example/%7E%4a/%zz%7",
    ]

    def py_canon(url):
        # replay the engine's split order exactly: fragment cut, base =
        # before the FIRST '?', host to the first '/', then hand the
        # RAW path+query+fragment suffix to _canon_mirror
        nofrag = url.split("#", 1)[0]
        base = nofrag.split("?", 1)[0]
        scheme, _, rest = base.partition("://")
        hostport = rest.split("/", 1)[0]
        host = _canon_mirror_host(hostport)
        cpath, spath = _canon_mirror(rest[len(hostport):] + url[len(base):])
        return (scheme.lower() + "://" + host + cpath,
                ",".join(reversed(host.split("."))) + ")" + spath)

    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = {r.url: (r.canon_url, r.surt_key)
           for r in _with_canon_url(df).collect()}
    for u in urls:
        assert got[u] == py_canon(u), u


def test_crawl_bfs_matches_python_bfs(spark):
    """web_crawl_bfs — the iterative wave scheduler — against an
    independent pure-Python BFS over the same synthesized host graph:
    every reached host carries its exact hop distance, the odd half of
    the host space stays dark (the visited-set anti-join never leaks an
    unreached vertex), and the seed is wave 0."""
    from collections import deque

    import pyarrow.parquet as pq

    from htmpark.queries import _BFS_HOSTS, REGISTRY

    fn, _ = REGISTRY["web_crawl_bfs"]
    got = {r.host: r.wave for r in fn(spark, SF).collect()}

    ids = pq.read_table(f"{SF}/documents.parquet",
                        columns=["doc_id"]).column(0).to_pylist()
    adj: dict = {}
    for d in ids:
        s = d % _BFS_HOSTS
        adj.setdefault(s, set()).add(
            (s * 2 + 2 * ((d // _BFS_HOSTS) % 3)) % _BFS_HOSTS)
    want, q = {0: 0}, deque([0])
    while q:
        h = q.popleft()
        for n in sorted(adj.get(h, ())):
            if n not in want:
                want[n] = want[h] + 1
                q.append(n)
    assert got == want
    assert all(h % 2 == 0 for h in got)           # odd hosts stay dark
    assert got[0] == 0 and max(got.values()) >= 3  # genuinely multi-wave


def test_bfs_wave_probe_hook(spark):
    """_bfs_waves' diagnostics-only wave_probe hook (the scale
    rehearsal's instrumentation, tools/bfs_scale_rehearsal.py): it is
    called once per wave AFTER the frontier materializes, its reported
    frontier sizes match an independent Python BFS level-by-level, and
    passing it changes NOTHING about the returned distances."""
    from collections import Counter, deque

    from pyspark.sql import functions as F

    from htmpark.queries import _bfs_waves

    H = 50  # dst = (2s+b) % 50, b in {0,1,2}: every host reachable
    edges = (spark.range(H)
             .selectExpr("explode(array(0, 1, 2)) AS b", "id")
             .selectExpr("CAST(id AS INT) AS src",
                         f"CAST((2 * id + b) % {H} AS INT) AS dst")
             .distinct().repartition(F.col("src")).persist())
    edges.count()
    seeds = spark.createDataFrame([(0, 0)], "host int, wave int")

    want, q = {0: 0}, deque([0])
    while q:
        s = q.popleft()
        for b in (0, 1, 2):
            d = (2 * s + b) % H
            if d not in want:
                want[d] = want[s] + 1
                q.append(d)
    levels = Counter(want.values())

    calls = []
    probed = _bfs_waves(spark, edges, seeds, 64,
                        wave_probe=lambda w, n, j: calls.append((w, n)))
    plain = _bfs_waves(spark, edges, seeds, 64)
    edges.unpersist()
    got = {r.host: r.wave for r in probed.collect()}
    assert got == want
    assert got == {r.host: r.wave for r in plain.collect()}
    # one probe call per wave, frontier sizes = BFS level sizes, and
    # the final empty-frontier wave is probed too (rows=0 sentinel)
    assert calls == [(w, levels.get(w, 0))
                     for w in range(1, len(calls) + 1)]
    assert calls[-1][1] == 0 and calls[-2][1] > 0


def test_seeded_bfs_matches_python_multisource(spark):
    """web_crawl_bfs_seeded — sitemap seeds feeding the crawl-wave
    scheduler — against an independent pure-Python multi-source BFS:
    the seed set must be exactly the sitemap-coverage hosts with
    n_new_seeds > 0 inside the BFS host space, every reached host
    carries distance-to-nearest-seed, and odd SEED hosts appear (at
    wave 0) even though no link edge can reach an odd host —
    publisher discovery reaching where link discovery cannot."""
    from collections import deque

    import pyarrow.parquet as pq

    from htmpark.queries import _BFS_HOSTS, REGISTRY, q_web_sitemap_coverage

    seeds = sorted(r.host_num for r in
                   q_web_sitemap_coverage(spark, SF)
                   .where("n_new_seeds > 0").collect()
                   if r.host_num < _BFS_HOSTS)
    assert seeds and any(h % 2 == 1 for h in seeds)

    fn, _ = REGISTRY["web_crawl_bfs_seeded"]
    got = {r.host: r.wave for r in fn(spark, SF).collect()}

    ids = pq.read_table(f"{SF}/documents.parquet",
                        columns=["doc_id"]).column(0).to_pylist()
    adj: dict = {}
    for d in ids:
        s = d % _BFS_HOSTS
        adj.setdefault(s, set()).add(
            (s * 2 + 2 * ((d // _BFS_HOSTS) % 3)) % _BFS_HOSTS)
    want = {h: 0 for h in seeds}
    q = deque(seeds)
    while q:
        h = q.popleft()
        for n in sorted(adj.get(h, ())):
            if n not in want:
                want[n] = want[h] + 1
                q.append(n)
    assert got == want
    # odd hosts appear exactly when seeded, always at wave 0
    assert {h for h in got if h % 2 == 1} == {h for h in seeds if h % 2 == 1}
    assert all(got[h] == 0 for h in got if h % 2 == 1)


def test_crawl_schedule_budget_invariants(spark):
    """web_crawl_schedule — politeness budgets pacing the seeded BFS:
    per host, the scheduled fetches must drain EXACTLY its allowed
    frontier targets, never exceed the per-wave token cap, start at the
    host's BFS discovery wave, run contiguous waves with every
    non-final wave saturated at cap (spill semantics) — and the token
    budget must genuinely BIND at gate scale (some host spills)."""
    import htmpark.queries as Q

    dist = {r.host: r.wave
            for r in Q.q_web_crawl_bfs_seeded(spark, SF).collect()}
    allowed = {r.host_num: r.n_allowed_targets
               for r in Q.q_web_crawl_frontier(spark, SF).collect()}
    delays = {0: 5, 1: 2, 2: 10, 3: 1}  # hand-derived from _ROBOTS_TEXTS
    rows = Q.q_web_crawl_schedule(spark, SF).collect()

    by_host: dict = {}
    for r in rows:
        by_host.setdefault(r.host, []).append((r.wave, r.n_fetched))
    assert set(by_host) == {h for h in dist if allowed.get(h, 0) > 0}
    spilled = 0
    for h, wf in by_host.items():
        wf.sort()
        cap = max(1, Q._SCHED_WINDOW_S // delays[h % 4])
        waves = [w for w, _ in wf]
        assert waves == list(range(dist[h], dist[h] + len(wf)))
        assert sum(n for _, n in wf) == allowed[h]
        assert all(0 < n <= cap for _, n in wf)
        assert all(n == cap for _, n in wf[:-1])  # only the last underfills
        spilled += len(wf) > 1
    assert spilled > 0

    # the planning horizon caps EMITTED waves per host (the per-row
    # sequence materializes the whole wave array, so production callers
    # bound it); capped output is an exact prefix of the unbounded one
    capped = Q.q_web_crawl_schedule(spark, SF, horizon=2).collect()
    by_host_c: dict = {}
    for r in capped:
        by_host_c.setdefault(r.host, []).append((r.wave, r.n_fetched))
    assert set(by_host_c) == set(by_host)
    for h, wf in by_host_c.items():
        wf.sort()
        assert len(wf) <= 2
        assert wf == sorted(by_host[h])[:len(wf)]


def test_idn_to_ascii_matches_stdlib_idna():
    """_idn_to_ascii (r8 verdict item 4) differentially against the
    stdlib ``idna`` codec on a Unicode-host fixture set: every encoded
    label must equal the codec's ACE form; scheme, userinfo, port,
    path, query, and fragment must survive byte-for-byte; all-ASCII
    urls are returned identically (the fast-path contract)."""
    from htmpark.queries import _idn_to_ascii

    hosts = ["bücher", "münchen", "中文", "例え", "köln", "россия"]
    for h in hosts:
        ace = h.encode("idna").decode("ascii")
        url = f"https://USER:pw@{h.upper()}.Example.COM:8443/P/q?x=1#f"
        got = _idn_to_ascii(url)
        assert got == (f"https://USER:pw@{ace}.Example.COM:8443"
                       f"/P/q?x=1#f"), h
    # mixed ASCII + Unicode labels: only the Unicode one encodes
    assert _idn_to_ascii("http://www.中文.example.com/a") == \
        "http://www.xn--fiq228c.example.com/a"
    # a label whose NFC+lowercase lands on pure ASCII (KELVIN SIGN ->
    # 'k') must NOT grow a malformed 'xn--' prefix (r9 review) — it
    # aliases the plain-ASCII host, matching the stdlib codec
    assert "K".encode("idna") == b"k"
    assert _idn_to_ascii("https://K.example.com/a") == \
        "https://k.example.com/a"
    # all-ASCII identity, schemeless identity
    for u in ("https://plain.example.com/a?b=1#c", "no-scheme/path"):
        assert _idn_to_ascii(u) == u
    # non-ASCII only outside the authority: authority untouched
    assert _idn_to_ascii("https://a.example.com/päth") == \
        "https://a.example.com/päth"


# common-script labels where _idn_to_ascii must agree with the stdlib
# ``idna`` codec byte-for-byte (the documented parity set: Latin
# diacritics, Greek, Cyrillic, CJK, kana, Korean, compatibility folds,
# ß->ss, KELVIN->k).  Scripts with post-Unicode-3.2 case mappings
# (Cherokee etc.) are the documented divergence class and stay out.
_IDN_PARITY_LABELS = [
    "bücher", "münchen", "köln", "straße", "ß", "façade", "niño",
    "crème-brûlée", "ελλάδα", "αθήνα", "россия", "москва", "中文",
    "中国", "例え", "テスト", "ひらがな", "한국", "한글", "²", "½x",
    "Ｆｕｌｌｗｉｄｔｈ", "ＡＢＣ", "K", "ǅungla", "ﬁnance",
]


def test_idn_to_ascii_property_vs_stdlib():
    """Parity on the documented common-script set (byte-for-byte vs the
    stdlib ``idna`` codec), plus structural properties on RANDOM
    labels: never crashes, emits a well-formed ACE or lowercase-ASCII
    label or passes the original through, preserves the non-host parts,
    and is IDEMPOTENT (re-canonizing an already-encoded url is the
    identity — the dedup key must be a fixpoint)."""
    import re as _re

    from hypothesis import given, settings, strategies as st

    from htmpark.queries import _idn_to_ascii

    for lab in _IDN_PARITY_LABELS:
        want = lab.encode("idna").decode("ascii")
        got = _idn_to_ascii(f"https://{lab}.example.com/p")
        assert got == f"https://{want}.example.com/p", (lab, got, want)

    label_st = st.text(
        alphabet=st.characters(min_codepoint=0x21, max_codepoint=0x2FFF,
                               exclude_characters=".:/?#@"),
        min_size=1, max_size=12)

    @settings(max_examples=200, deadline=None)
    @given(label_st)
    def check(lab):
        url = f"https://{lab}.example.com/p?q=1#f"
        got = _idn_to_ascii(url)
        assert got.startswith("https://")
        assert got.endswith(".example.com/p?q=1#f")
        got_label = got[len("https://"):-len(".example.com/p?q=1#f")]
        if lab.isascii():
            assert got_label == lab  # case untouched: canon's job
        else:
            # encoded (valid ACE / folded ASCII) or passed through
            assert (got_label == lab
                    or _re.fullmatch(r"xn--[\x21-\x7e]+", got_label)
                    or got_label.isascii())
        # idempotence: the output is a fixpoint
        assert _idn_to_ascii(got) == got, (lab, got)

    check()


def test_probe_rows_upper_bound_is_sound_property(tmp_path):
    """Property: for ANY distinct id set and modulus, the stats bound is
    >= the true count of id % k == 0 rows — soundness is the entire
    claim (an undercount re-enables the broadcast OOM)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from hypothesis import given, settings, strategies as st

    from htmpark.queries import _probe_rows_upper_bound

    @settings(max_examples=60, deadline=None)
    @given(st.sets(st.integers(min_value=0, max_value=10_000),
                   min_size=1, max_size=300),
           st.integers(min_value=1, max_value=120),
           st.integers(min_value=50, max_value=200),
           st.integers(min_value=0, max_value=119))
    def check(ids, k, rg_size, r):
        r %= k
        d = tmp_path / f"p{abs(hash((tuple(sorted(ids))[:5], k, rg_size, r)))}"
        d.mkdir(exist_ok=True)
        f = d / "tbl.parquet"
        pq.write_table(pa.table({"doc_id": sorted(ids)}), str(f),
                       row_group_size=rg_size)
        b = _probe_rows_upper_bound(str(d), "tbl", "doc_id", k, r)
        true = sum(1 for i in ids if i % k == r)
        assert b is not None and b >= true
        assert b <= len(ids)

    check()


def test_centroid_gate_counts_clustered_ids(spark, monkeypatch, tmp_path):
    """IVF / k-means take the broadcast scorers only under a SOUND bound
    on the centroid set (vec_id % 50 == 7).  Here every id is ≡ 7 (mod
    50), so all rows are centroids and there are more of them than
    _MAX_BROADCAST_PROBES: both queries must keep the max_by plan.  A
    dense-id guess (n // 50 + 1) would broadcast all of them."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from htmpark import queries as qm

    n = qm._MAX_BROADCAST_PROBES + 1
    pq.write_table(pa.table({
        "vec_id": pa.array(range(7, 7 + 50 * n, 50), type=pa.int64()),
        "embedding": pa.array([[1.0, 0.5]] * n, type=pa.list_(pa.float32())),
    }), str(tmp_path / "embeddings.parquet"))
    assert qm._probe_rows_upper_bound(str(tmp_path), "embeddings",
                                      "vec_id", 50, 7) == n
    # dense ids: broadcast regime
    assert qm._fits_broadcast(SF, "embeddings", "vec_id", 50,
                              qm._MAX_BROADCAST_PROBES, 7)

    def no_broadcast(*a, **k):
        raise AssertionError("centroid set broadcast beyond the bound")

    monkeypatch.setattr(qm, "_np_probe_broadcast", no_broadcast)
    assert qm.q_sim_ivf_topk(spark, str(tmp_path)).columns == [
        "probe_id", "rank", "vec_id", "cos_e4"]
    assert qm.q_sim_kmeans_update(spark, str(tmp_path)).columns == [
        "cent_id", "dim", "n_members", "sum_e4"]


def test_map_rows_types_and_shapes(spark):
    """_map_rows: a row may expand into several rows or yield nothing,
    None lands in a nullable int column, binary values arrive as bytes
    and lists leave as array<string>; a batch whose every row yields
    nothing still comes out with the declared types."""
    from htmpark.queries import _map_rows

    df = spark.createDataFrame([(1, b"ab"), (2, b""), (3, b"xyz")],
                               "k long, p binary").coalesce(1)

    def fn(k, p):
        assert type(p) is bytes
        for i in range(len(p)):  # the empty payload yields no row
            yield (k, i, None if i == 1 else len(p),
                   [chr(c) for c in p[:i + 1]], i == 0)

    out = _map_rows(df, fn, "k long, i int, n int, pre array<string>, "
                            "first boolean")
    assert [(f.name, f.dataType.simpleString()) for f in out.schema] == [
        ("k", "bigint"), ("i", "int"), ("n", "int"),
        ("pre", "array<string>"), ("first", "boolean")]
    assert sorted(map(tuple, out.collect())) == [
        (1, 0, 2, ["a"], True), (1, 1, None, ["a", "b"], False),
        (3, 0, 3, ["x"], True), (3, 1, None, ["x", "y"], False),
        (3, 2, 3, ["x", "y", "z"], False)]

    none = _map_rows(df, lambda k, p: iter(()),
                     "k long, i int, s string, ok boolean")
    assert none.collect() == []
    assert none.toPandas().shape == (0, 4)



@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_footer_schema_equals_inferred_schema(spark, sf):
    """t() hands the reader the schema read from the table's footer, so
    it must equal what Spark infers, table by table; and reading a table
    then runs no Spark job (inference is a one-task job per read).  A
    missing table still raises."""
    from htmpark.queries import _footer_schema, t

    sf_dir = f"/root/testdata/{sf}"
    sc = spark.sparkContext
    group = f"footer-schema-{sf}"
    for name in TABLES:
        path = f"{sf_dir}/{name}.parquet"
        assert _footer_schema(spark, path) == spark.read.parquet(path).schema
        sc.setJobGroup(group, group)
        try:
            df = t(spark, sf_dir, name)
        finally:
            sc._jsc.clearJobGroup()
        assert df.schema == spark.read.parquet(path).schema, name
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    with pytest.raises(Exception, match="PATH_NOT_FOUND"):
        t(spark, sf_dir, "no_such_table")

def test_idn_spellings_alias_one_surt_key(spark):
    """Unicode and punycode spellings of one host must canonicalize to
    the SAME canon_url/surt_key through idn_ascii_urls + the shared
    canon fold — the whole point of the pre-stage (a crawl dedup key
    must not split on spelling)."""
    from htmpark.queries import _with_canon_url, idn_ascii_urls

    df = spark.createDataFrame(
        [(0, "https://BÜCHER.example.com/x"),
         (1, "https://xn--bcher-kva.example.com/x"),
         (2, "https://ascii.example.com/x"),
         (3, None)],
        "id int, url string")
    out = {r.id: (r.canon_url, r.surt_key)
           for r in _with_canon_url(idn_ascii_urls(df)).collect()}
    assert out[0] == out[1]
    assert out[0][0] == "https://xn--bcher-kva.example.com/x"
    assert out[0][1] == "com,example,xn--bcher-kva)/x"
    assert out[2][0] == "https://ascii.example.com/x"
    # a NULL url must survive the pre-stage (both rlike branches are
    # NULL for it — dropping the row would silently change counts)
    assert 3 in out and out[3] == (None, None)


def test_unres_hex_re_is_exactly_the_unreserved_set():
    """_UNRES_HEX_RE — the decode gate all three canon implementations
    (Spark rlike, DuckDB regexp_matches, Python re.match) share — must
    match EXACTLY the 66 RFC 3986 §2.3 unreserved octets over all 256
    uppercase hex pairs: decoding anything else (reserved, controls,
    non-ASCII) would merge distinct URLs; missing any unreserved octet
    would leave aliased spellings split.  ASCII-safety of the engine's
    char(conv(...)) rides on the same bound (every match is < 0x80)."""
    import re as _re

    from htmpark.queries import _UNRES_HEX_RE

    unreserved = {ord(c) for c in
                  "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
                  "abcdefghijklmnopqrstuvwxyz"
                  "0123456789-._~"}
    matched = {o for o in range(256)
               if _re.match(_UNRES_HEX_RE, "%02X" % o)}
    assert matched == unreserved
    assert len(matched) == 66 and max(matched) == 0x7E


def test_href_resolution_differential_urljoin():
    """_ref_resolve_href — the oracle twin the Spark-side resolution is
    gate-locked to — differentially checked against the stdlib's RFC
    3986 resolver (urllib.parse.urljoin) on refs WITHOUT their own
    authority: that's the §5.2.3 merge + §5.2.4 dot-segment machinery,
    which is where resolution bugs live.  Comparison is after
    rstrip('/'): the documented trailing-'.'/'..' deviation (no
    trailing slash) is immaterial because canon trims trailing slashes.

    Out of differential scope, pinned directly below, where URLLIB is
    the non-RFC side: authority-carrying refs (urljoin skips §5.2
    remove_dot_segments on them) and empty path segments (urljoin
    collapses 'x//y' to 'x/y'; RFC and browsers preserve '//')."""
    import random
    import re
    from urllib.parse import urljoin

    from htmpark.queries import _ref_resolve_href

    base = "https://h.example.com/p/leaf"

    def ours(href):
        fh, path = _ref_resolve_href(href)
        assert fh == "", href
        return "https://h.example.com" + path

    fixed = [
        "x", "x/y", "./x", "../x", "../../x", "../../../x", "a/../b",
        "a/./b", "a/b/../../c", "..", ".", "a/..", "a/.", "/r",
        "/r/../s", "/./r", "/../r", "x?q=1", "x?b=2&a=1", "x#f",
        "x?q=1#f", "rel?u=https://t.example/p", "trailing/", "a/b/",
        "%7Euser/x", "café/ü", "a/../..", "./../x",
    ]
    rng = random.Random(3986)
    segs = ["a", "b2", ".", "..", "c-c", "%20d"]
    for _ in range(400):
        path = "/".join(rng.choice(segs)
                        for _ in range(rng.randint(1, 6)))
        href = (rng.choice(["", "/"]) + path
                + rng.choice(["", "?q=1", "#f", "?b=2&a=1#f"]))
        fixed.append(href)
    def trim(url):
        # drop a path-final '/' (before end, '?' or '#') — the
        # trailing-'.'/'..' deviation surface that canon trims anyway
        return re.sub(r"/(?=[?#]|$)", "", url)

    for href in fixed:
        assert trim(ours(href)) == trim(urljoin(base, href)), href

    # authority-carrying refs: WE apply remove_dot_segments (RFC
    # §5.2.2 strict); urljoin leaves 'a/../b' untouched there
    assert _ref_resolve_href("https://x.org/a/../b") == ("x.org", "/b")
    assert _ref_resolve_href("//cdn.example.org/../x") == \
        ("cdn.example.org", "/x")
    assert _ref_resolve_href("//cdn.example.org") == ("cdn.example.org", "/")
    # empty segments are PRESERVED (RFC remove_dot_segments never
    # merges them; urljoin's collapse is the stdlib's own quirk)
    assert _ref_resolve_href("x//y") == ("", "/p/x//y")
    # opaque non-hierarchical schemes: dropped by contract
    assert _ref_resolve_href("mailto:a@b") == (None, None)
    assert _ref_resolve_href("javascript:void(0)") == (None, None)
    assert _ref_resolve_href("tel:+15551212") == (None, None)


def test_outlink_canonical_resolution(spark):
    """Relative hrefs resolve against the page url before
    canonicalization: '/'-rooted against the host, bare against the
    page directory; SURT keys follow."""
    fn, _ = REGISTRY["web_outlink_canonical"]
    rows = [r for r in fn(spark, SF).collect()
            if r.page_url.endswith("/p/1") or r.page_url.endswith("/p/9")]
    by = {(r.page_url.rsplit("/", 1)[-1], r.seq): r for r in rows
          if r.page_url in ("https://host002.example.com/p/1",
                            "https://host010.example.com/p/9")}
    a = by[("1", 0)]
    assert a.href == "/a"
    assert a.canon_url == "https://host002.example.com/a"
    assert a.surt_key == "com,example,host002)/a"
    x = by[("9", 0)]
    assert x.href == "x"
    assert x.canon_url == "https://host010.example.com/p/x"
    assert x.surt_key == "com,example,host010)/p/x"
    # RFC 3986 dirty forms (the _DIRTY_HREFS suffix, seq 3.. on frag 1):
    # dot-segment removal, protocol-relative scheme join, absolute
    # pass-through
    assert by[("1", 3)].href == "../up"
    assert by[("1", 3)].canon_url == "https://host002.example.com/up"
    assert by[("1", 4)].canon_url == "https://host002.example.com/p/self"
    assert by[("1", 5)].canon_url == "https://host002.example.com/p/a2"
    assert by[("1", 6)].canon_url == "https://host002.example.com/root"
    pp = by[("1", 7)]
    assert pp.href == "//cdn.example.org/lib"
    assert pp.canon_url == "https://cdn.example.org/lib"
    assert pp.surt_key == "org,example,cdn)/lib"
    assert by[("1", 8)].canon_url == "https://cdn.example.org/abs"
    # '://' inside the query string does NOT make the href absolute
    # (RFC 3986 §4.2): it resolves on the PAGE host, query preserved in
    # canon_url but stripped from the surt key
    q = by[("1", 9)]
    assert q.href == "rel?u=https://track.example/p"
    assert q.canon_url == ("https://host002.example.com/p/rel"
                           "?u=https://track.example/p")
    assert q.surt_key == "com,example,host002)/p/rel"
    # scheme-ful non-hierarchical refs are dropped from the edge
    # surface, leaving seq holes where the parser saw them
    assert ("1", 10) not in by and ("1", 11) not in by
    # URL-in-path (redirect idiom): host splits on the FIRST '://'
    r = by[("1", 12)]
    assert r.canon_url == ("https://host002.example.com"
                           "/p/go/https://deep.example/x")
    assert r.surt_key == ("com,example,host002)"
                          "/p/go/https://deep.example/x")
    assert by[("1", 13)].canon_url == \
        "https://cdn.example.org/go/https://deep.example/x"
    # same-document refs resolve to the page's own PATH, not its
    # directory: '' and '#top' canonicalize to the page itself
    # (fragment dropped), '?p=2' keeps its query; all three share the
    # page's own surt key
    assert by[("1", 14)].href == ""
    assert by[("1", 14)].canon_url == "https://host002.example.com/p/1"
    assert by[("1", 15)].canon_url == "https://host002.example.com/p/1"
    assert by[("1", 16)].canon_url == \
        "https://host002.example.com/p/1?p=2"
    assert {by[("1", s)].surt_key for s in (14, 15, 16)} == \
        {"com,example,host002)/p/1"}
    # canon through the outlink pipeline: %XX hex uppercases (invalid
    # escape untouched), FQDN trailing dot strips off the host
    assert by[("1", 17)].canon_url == \
        "https://host002.example.com/p/Pct%2F%zq"
    d = by[("1", 18)]
    assert d.href == "//cdn.example.org./lib2"
    assert d.canon_url == "https://cdn.example.org/lib2"
    assert d.surt_key == "org,example,cdn)/lib2"
    # authority followed directly by '?' / '#': host ends at the first
    # of '/?#', the query survives, the fragment drops
    q19 = by[("1", 19)]
    assert q19.href == "https://cdn.example.org?q=1"
    assert q19.canon_url == "https://cdn.example.org?q=1"
    assert q19.surt_key == "org,example,cdn)"
    assert by[("1", 20)].canon_url == "https://cdn.example.org"
    # RFC 3986 §6.2.2.2 in the resolved path: unreserved %7e/%41
    # decode to ~/A, reserved %2f uppercases, invalid %gg passes
    u21 = by[("1", 21)]
    assert u21.href == "%7edir/%41%2f%gg"
    assert u21.canon_url == "https://host002.example.com/p/~dir/A%2F%gg"
    assert u21.surt_key == "com,example,host002)/p/~dir/A%2F%gg"


def test_winnowing_guarantee(spark, tmp_path):
    """The paper's property: any shared token run of length >= k + w - 1
    yields AT LEAST ONE common fingerprint between the two documents
    (where random sampling could miss it); unrelated texts share none;
    and the selected set is a small fraction of all grams (~2/(w+1))."""
    import random

    from htmpark.queries import _WIN_K, _WIN_W, q_dedup_winnowing

    rng = random.Random(7)
    shared = " ".join(f"s{i}" for i in range(_WIN_K + _WIN_W - 1))
    mk = lambda p: " ".join(f"{p}{rng.randrange(10**6)}" for _ in range(40))
    docs = [(0, mk("a") + " " + shared), (1, shared + " " + mk("b")),
            (2, mk("c"))]
    spark.createDataFrame(docs, "doc_id long, text string") \
         .write.parquet(str(tmp_path / "documents.parquet"))
    fp = q_dedup_winnowing(spark, str(tmp_path), fingerprint_rows=True)
    sets = {}
    for r in fp.collect():
        sets.setdefault(r.doc_id, set()).add(r.wmin)
    assert sets[0] & sets[1], "shared run must contribute a common print"
    assert not (sets[0] & sets[2]) and not (sets[1] & sets[2])
    # density: far fewer fingerprints than grams (guarantee bound 2/(w+1)
    # is on expectation; assert the coarse bound that holds by selection)
    agg = {r.doc_id: r for r in q_dedup_winnowing(spark, str(tmp_path)).collect()}
    for did, row in agg.items():
        assert row.n_fp <= row.n_grams - _WIN_W + 1
        assert row.n_fp < row.n_grams / 2


# ---------------------------------------------------------------------------
# round-10 closures: single-scan IDN, bounded schedule + carryover,
# strict robots tokens, typed probe stats, one-pass signal frame,
# transitive fingerprints


def test_idn_prestage_is_single_scan(spark):
    """idn_ascii_urls must evaluate its upstream exactly once (r9
    verdict sharp-edge #1: the fast/slow union re-evaluated the
    subtree twice — misplaced atop an expensive leg it silently
    doubled that leg's cost).  The executed plan of web_url_canonical
    must hold ONE parquet scan, ONE MapInPandas stage, and no Union."""
    import htmpark.queries as Q

    plan = (Q.q_web_url_canonical(spark, SF)
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("Scan parquet") == 1
    assert plan.count("MapInPandas") == 1
    assert "Union" not in plan


def test_idn_prestage_fast_batch_untouched(spark):
    """The in-batch fast path: an all-ASCII batch must come back with
    urls BYTE-identical (no normalization side effects), and mixed
    batches must rewrite only the non-ASCII rows."""
    from htmpark.queries import idn_ascii_urls

    rows = [(0, "https://Plain.EXAMPLE.com:8443/A%2fb?q=%7e"),
            (1, "https://BÜCHER.example.com/x"),
            (2, None), (3, "")]
    df = spark.createDataFrame(rows, "id int, url string")
    out = {r.id: r.url for r in idn_ascii_urls(df).collect()}
    assert out[0] == rows[0][1]          # ASCII: untouched, case intact
    assert out[1] == "https://xn--bcher-kva.example.com/x"
    assert out[2] is None                # NULL survives (row count pinned)
    assert out[3] == ""
    assert len(out) == 4


def test_crawl_schedule_bounded_by_default_with_carryover(spark):
    """The per-host wave split must be bounded in EVERY call (r9
    verdict sharp-edge #2): horizon=None now clamps at
    _SCHED_HORIZON_CAP (visible in the optimized plan, so no unbounded
    sequence() is reachable), and the carryover column identifies
    truncated hosts without recomputation (r9 ADVICE): it counts down
    the pending targets per wave, hits 0 exactly on a fully drained
    host's last wave, and stays > 0 on a horizon-truncated host's last
    emitted wave — including when allowed is an exact multiple of cap
    (the case the old schema could not distinguish)."""
    import htmpark.queries as Q

    df = Q.q_web_crawl_schedule(spark, SF)
    assert str(Q._SCHED_HORIZON_CAP) in \
        df._jdf.queryExecution().optimizedPlan().toString()

    rows = df.collect()
    assert set(df.columns) == {"host", "wave", "n_fetched", "carryover",
                               "cap"}
    by_host: dict = {}
    for r in rows:
        by_host.setdefault(r.host, []).append(r)
    for h, hs in by_host.items():
        hs.sort(key=lambda r: r.wave)
        pending = sum(r.n_fetched for r in hs)  # unbounded at gate scale
        for r in hs:
            pending -= r.n_fetched
            assert r.carryover == pending, h
        assert hs[-1].carryover == 0, h  # default bound never binds here

    # horizon=1 truncates every spilling host: its single emitted wave
    # must carry the remainder, and a host whose allowed is an exact
    # multiple of cap (cap-saturated last wave) is still identifiable
    capped = Q.q_web_crawl_schedule(spark, SF, horizon=1).collect()
    full = {h: sum(r.n_fetched for r in hs) for h, hs in by_host.items()}
    saw_truncated = saw_saturated_truncation = False
    for r in capped:
        assert r.carryover == full[r.host] - r.n_fetched
        if r.carryover > 0:
            saw_truncated = True
            if full[r.host] % r.n_fetched == 0:
                saw_saturated_truncation = True
    assert saw_truncated
    assert saw_saturated_truncation

    # out-of-range horizons raise instead of misbehaving: horizon=0
    # would hit Spark's sequence(0, -1) = [0, -1] descending default
    # (a fetch scheduled the wave BEFORE discovery), and a horizon
    # above the hard cap must not be silently clamped to it (r10
    # review — the caller must not mistake a library override for
    # their own bound)
    # non-integral horizons are rejected too (r10 ADVICE: int(2.9)
    # passed the range check and then a DIFFERENT bound — 2 — ran)
    for bad in (0, -3, Q._SCHED_HORIZON_CAP + 1, 2.9, 0.5):
        with pytest.raises(ValueError, match="horizon"):
            Q.q_web_crawl_schedule(spark, SF, horizon=bad)
    assert Q.q_web_crawl_schedule(
        spark, SF, horizon=Q._SCHED_HORIZON_CAP).count() == len(rows)


def test_robots_exact_token_mode():
    """RFC 9309 §2.2.1 strict product-token equality behind
    exact_tokens=True (r9 verdict sharp-edge #3): the default keeps
    the documented prefix leniency (a family token captures variant
    agents), the strict mode matches only exact equality and falls
    back to the * group — for both rule selection and crawl-delay."""
    from htmpark.robots import crawl_delay, parse_robots, robots_allowed

    txt = ("User-agent: htm\nDisallow: /fam\nCrawl-delay: 7\n\n"
           "User-agent: htmpark\nDisallow: /exact\nCrawl-delay: 3\n\n"
           "User-agent: *\nDisallow: /all\nCrawl-delay: 11\n")
    # default: BOTH named groups match (prefix) and combine
    assert sorted(parse_robots(txt, "htmpark")) == \
        [("disallow", "/exact"), ("disallow", "/fam")]
    assert crawl_delay(txt, "htmpark") == 7  # first matching named group
    # strict: only the exact token matches
    assert parse_robots(txt, "htmpark", exact_tokens=True) == \
        [("disallow", "/exact")]
    assert crawl_delay(txt, "htmpark", exact_tokens=True) == 3
    # strict with no exact group: * fallback (prefix would match 'htm')
    assert parse_robots(txt, "htmparker", exact_tokens=True) == \
        [("disallow", "/all")]
    assert crawl_delay(txt, "htmparker", exact_tokens=True) == 11
    # default prefix: BOTH 'htm' and 'htmpark' capture 'htmparker'
    assert sorted(parse_robots(txt, "htmparker")) == \
        [("disallow", "/exact"), ("disallow", "/fam")]
    # the decision itself honors whichever selection ran
    assert not robots_allowed("/exact/x",
                              parse_robots(txt, "htmpark",
                                           exact_tokens=True))
    assert robots_allowed("/fam/x",
                          parse_robots(txt, "htmpark", exact_tokens=True))


def test_probe_rows_upper_bound_rejects_non_integer_ids(tmp_path):
    """A key column stored as numeric STRINGS carries LEXICOGRAPHIC
    min/max (max('99') over ids up to 500) that int() happily accepts,
    turning the sound bound into an UNDER-estimate — the exact
    broadcast-OOM hazard it exists to prevent (r9 ADVICE).  Non-integer
    physical types must return None (scale unknown -> shuffle path)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from htmpark.queries import _probe_rows_upper_bound

    d = tmp_path / "strids"
    d.mkdir()
    ids = [str(i) for i in range(500)]  # lexicographic max is '99'
    pq.write_table(pa.table({"doc_id": ids}), str(d / "documents.parquet"))
    assert _probe_rows_upper_bound(str(d), "documents", "doc_id", 100) \
        is None
    # doubles are likewise refused (stats are floats, not a sound count)
    d2 = tmp_path / "dblids"
    d2.mkdir()
    pq.write_table(pa.table({"doc_id": [float(i) for i in range(50)]}),
                   str(d2 / "documents.parquet"))
    assert _probe_rows_upper_bound(str(d2), "documents", "doc_id", 10) \
        is None
    # int32 stays accepted
    d3 = tmp_path / "i32ids"
    d3.mkdir()
    pq.write_table(
        pa.table({"doc_id": pa.array(range(500), type=pa.int32())}),
        str(d3 / "documents.parquet"))
    assert _probe_rows_upper_bound(str(d3), "documents", "doc_id", 100) == 5


def test_doc_signals_one_pass_and_values(spark, tmp_path):
    """job.doc_signals (r9 verdict item 6): ONE scan of documents feeds
    every signal family — in the build plan no leg reads parquet
    directly (every 'Scan parquet' printed is the one inside the
    cached projection each InMemoryTableScan references) — and each
    signal column is value-identical to its standalone oracled query.
    write_doc_signals round-trips the same frame through parquet."""
    from pyspark import StorageLevel

    import htmpark.queries as Q
    from htmpark.job import _doc_signals_build, write_doc_signals

    # hermetic plan check: a signal frame cached by an earlier test
    # (via _doc_signals_cached) makes Spark's CacheManager substitute
    # the WHOLE build plan with one InMemoryTableScan of it — correct
    # (and desirable) reuse, but it hides the one-scan shape this test
    # pins, so drop the session-level query caches first
    Q.clear_candidate_pairs_cache()
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    base = (docs.select("doc_id", "text")
            .persist(StorageLevel.MEMORY_AND_DISK))
    try:
        plan = (_doc_signals_build(base)
                ._jdf.queryExecution().executedPlan().toString())
        assert plan.count("InMemoryTableScan") >= 3  # row/rep/LM legs
        assert plan.count("Scan parquet") == plan.count("InMemoryTableScan")
    finally:
        base.unpersist()

    out = str(tmp_path / "signals")
    write_doc_signals(spark, docs, out)
    sig = {r.doc_id: r for r in spark.read.parquet(out).collect()}
    assert len(sig) == docs.count()

    qual = {r.doc_id: r.keep for r in
            Q.q_text_quality_filter(spark, SF).collect()}
    rep = {r.doc_id: r for r in Q.q_text_repetition(spark, SF).collect()}
    lm = {r.doc_id: r for r in Q.q_text_unigram_lm(spark, SF).collect()}
    corpus_cb = (sum(r.lm_num for r in lm.values()) * 100
                 // sum(r.n_tokens for r in lm.values()))
    exact = {r.text_md5: r.keep_doc_id for r in
             Q.q_dedup_exact(spark, SF).collect()}
    assert set(sig) == set(qual)
    for did, s in sig.items():
        assert int(s.quality_ok) == qual[did], did
        assert s.lm_cb == lm[did].lm_cb and s.n_tokens == lm[did].n_tokens
        assert s.corpus_cb == corpus_cb
        if did in rep:
            assert (s.rep_bp, s.n_words, s.n_distinct_words) == \
                (rep[did].rep_bp, rep[did].n_words,
                 rep[did].n_distinct_words), did
        else:
            assert s.rep_bp is None, did
    # md5 key: the same canonical keeper per hash group as dedup_exact
    keep = {h: min(d for d, s2 in sig.items() if s2.h == h)
            for h in {s.h for s in sig.values()}}
    assert keep == exact

    # the capstone consumes an injected signal frame identically to
    # its own cached one (production reads the parquet table back)
    injected = Q.q_curation_pipeline(
        spark, SF, signals=spark.read.parquet(out)).collect()
    default = Q.q_curation_pipeline(spark, SF).collect()
    assert sorted(map(tuple, injected)) == sorted(map(tuple, default))

    # cache_source=False (the 100 TB re-scan regime: three pruned
    # column scans instead of materializing text to executor disk)
    # writes a value-identical signal table
    out2 = str(tmp_path / "signals_noscan_cache")
    write_doc_signals(spark, docs, out2, cache_source=False)
    sig2 = {r.doc_id: tuple(r) for r in spark.read.parquet(out2).collect()}
    assert sig2 == {d: tuple(r) for d, r in sig.items()}


def test_fingerprints_fold_transitive_helpers():
    """Registry fingerprints must cover shared helpers (r9 ADVICE): a
    query's hash folds in the source of every htmpark function and the
    repr of every module constant it transitively references, so a
    helper edit can no longer leave dependent fingerprints unchanged.
    Spot-pin the dependency closure of two helper-heavy queries."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "check_registry_order",
        os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "tools",
            "check_registry_order.py"))
    cro = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(cro)

    import inspect

    import htmpark.queries as Q

    skip = frozenset({"htmpark.queries"})
    frags = "\n".join(cro._dep_fragments(
        Q.q_web_crawl_schedule, {id(Q.q_web_crawl_schedule)}, skip))
    # direct helper, transitive helper, and a planning constant
    assert inspect.getsource(Q._seeded_bfs_dist) in frags
    assert inspect.getsource(Q._bfs_waves) in frags      # via _seeded_bfs_dist
    assert f"<const _SCHED_HORIZON_CAP>{Q._SCHED_HORIZON_CAP!r}" in frags

    frags2 = "\n".join(cro._dep_fragments(
        Q.q_curation_pipeline, {id(Q.q_curation_pipeline)}, skip))
    from htmpark import job as J
    assert inspect.getsource(J._doc_signals_build) in frags2  # via job import
    # and the fingerprint actually changes when a dependency would:
    # hashing with vs without the SQL side must differ (sanity on the
    # fold itself)
    fn = Q.q_web_crawl_schedule
    assert cro.fingerprint(fn, None) != \
        cro.fingerprint(fn, Q.SQL_WEB_CRAWL_SCHEDULE)

    # the closure must not stop one module-fold hop in (r10 review):
    # sitemap.py's own `from . import sax` has to reach parser.py, so
    # a parser edit flips web_sitemap_coverage's fingerprint
    import htmpark.parser as P
    import htmpark.sitemap as S
    frags3 = "\n".join(cro._dep_fragments(
        Q.q_web_sitemap_coverage, {id(Q.q_web_sitemap_coverage)}, skip))
    assert inspect.getsource(S) in frags3
    assert inspect.getsource(P) in frags3

    # determinism across session-cache state (r10 review): a filled
    # query cache must hash identically to an empty one — the replica
    # manifest is recorded in-process AFTER the gate fills the caches,
    # and the order checker verifies from a fresh process
    names = ["curation_pipeline", "dedup_minhash_pairs",
             "web_crawl_schedule", "web_sitemap_coverage"]
    before = {n: cro.fingerprint(*Q.REGISTRY[n]) for n in names}
    Q._SESSION_MEMO[("fp-test", "pairs")] = object()
    Q._SESSION_MEMO[("fp-test", "doc_signals")] = object()
    try:
        after = {n: cro.fingerprint(*Q.REGISTRY[n]) for n in names}
    finally:
        Q._SESSION_MEMO.pop(("fp-test", "pairs"), None)
        Q._SESSION_MEMO.pop(("fp-test", "doc_signals"), None)
    assert before == after

    # the query module itself is never folded as text: otherwise every
    # query's fingerprint would couple to every other query's source
    assert inspect.getsource(Q) not in frags2


def test_schedule_cycles_drain_exactly(spark):
    """Carryover CONSUMPTION (r10 verdict item 3): next_schedule_cycle
    seeds planning cycle k+1 from cycle k's output rows alone, and the
    multi-cycle union must cover exactly ``allowed`` fetches per host
    with no duplicated (host, wave) and no gap — plus the cycle2 gate
    query must equal both the hand-built two-cycle union and the
    single-pass plan at the doubled horizon (the oracle identity)."""
    import htmpark.queries as Q

    h = Q._SCHED_CYCLE_HORIZON
    c1 = Q.q_web_crawl_schedule(spark, SF, horizon=h)
    gate = sorted(map(tuple, Q.q_web_crawl_schedule_cycle2(
        spark, SF).collect()))
    union = sorted(map(tuple, c1.unionByName(
        Q.next_schedule_cycle(c1, h)).collect()))
    single = sorted(map(tuple, Q.q_web_crawl_schedule(
        spark, SF, horizon=2 * h).collect()))
    assert gate == union == single and gate

    # iterate cycles to exhaustion: exact drain, no double-count
    allowed = {r.host_num: r.n_allowed_targets
               for r in Q.q_web_crawl_frontier(spark, SF).collect()}
    reached = {r.host for r in Q.q_web_crawl_bfs_seeded(spark, SF).collect()}
    fetched: dict = {}
    seen_waves: set = set()
    rows = c1.collect()
    n_cycles = 1
    while rows:
        for r in rows:
            assert (r.host, r.wave) not in seen_waves
            seen_waves.add((r.host, r.wave))
            fetched[r.host] = fetched.get(r.host, 0) + r.n_fetched
        nxt = Q.next_schedule_cycle(
            spark.createDataFrame(rows, Q.q_web_crawl_schedule(
                spark, SF).schema), horizon=h)
        rows = nxt.collect()
        n_cycles += 1
        assert n_cycles < 100  # must converge
    assert fetched == {hst: a for hst, a in allowed.items()
                       if hst in reached and a > 0}
    assert n_cycles > 2  # the horizon genuinely binds at gate scale

    # per host the multi-cycle waves are contiguous from discovery
    by_host: dict = {}
    for hst, w in seen_waves:
        by_host.setdefault(hst, []).append(w)
    dist = {r.host: r.wave
            for r in Q.q_web_crawl_bfs_seeded(spark, SF).collect()}
    for hst, ws in by_host.items():
        ws.sort()
        assert ws == list(range(dist[hst], dist[hst] + len(ws))), hst

    # the consumer applies the same horizon validation as the planner
    for bad in (0, 1.5, Q._SCHED_HORIZON_CAP + 1):
        with pytest.raises(ValueError, match="horizon"):
            Q.next_schedule_cycle(c1, horizon=bad)


def test_text_gates_signal_injection(spark, tmp_path):
    """signals= injection on the three standalone text gates (r10
    verdict item 4): against a signal table read back from parquet,
    each gate's plan scans the SIGNAL table only — documents (and its
    text column) appear in the plan ZERO times — and the values are
    identical to the gate's own text-scanning default."""
    import htmpark.queries as Q
    from htmpark.job import write_doc_signals

    out = str(tmp_path / "signals")
    write_doc_signals(spark, spark.read.parquet(f"{SF}/documents.parquet"),
                      out)
    sig = spark.read.parquet(out)

    gates = [Q.q_text_quality_filter, Q.q_text_repetition,
             Q.q_text_unigram_lm]
    for gate in gates:
        inj = gate(spark, SF, signals=sig)
        plan = inj._jdf.queryExecution().executedPlan().toString()
        assert "documents" not in plan, gate.__name__
        assert plan.count("Scan parquet") == 1, gate.__name__  # signals only
        assert sorted(map(tuple, inj.collect())) == \
            sorted(map(tuple, gate(spark, SF).collect())), gate.__name__


def test_schedule_cycle_reads_materialized_table_only(spark, tmp_path):
    """next_schedule_cycle's production scale shape, plan-pinned (its
    docstring claims it: 'a production planner persists each cycle's
    schedule table anyway, so cycle k+1 reads a narrow materialized
    input, never the upstream graph'): against a cycle-1 table read
    back from parquet, the cycle-2 plan scans THAT parquet exactly once
    (no documents/frontier/BFS re-derivation) and shuffles exactly once
    (the host-keyed max_by partial agg; the wave split is row-local) —
    and emits the identical rows to the lazy-path cycle 2."""
    import htmpark.queries as Q

    h = Q._SCHED_CYCLE_HORIZON
    c1 = Q.q_web_crawl_schedule(spark, SF, horizon=h)
    out = str(tmp_path / "cycle1")
    c1.write.parquet(out)
    mat = spark.read.parquet(out)

    c2 = Q.next_schedule_cycle(mat, h)
    plan = c2._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1
    assert "documents" not in plan and "events" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert sorted(map(tuple, c2.collect())) == \
        sorted(map(tuple, Q.next_schedule_cycle(c1, h).collect()))


def test_robots_gate_strict_mode_divergence(spark):
    """web_robots_gate's allowed_strict column (r10 verdict item 6):
    RFC 9309 §2.2.1 exact product-token equality must diverge from the
    default prefix leniency EXACTLY on the hmod-2 /pub/ paths (strict
    selects only the 'htmpark' group, so the 'htm' group's
    'Disallow: /pub/' no longer applies) and nowhere else — and the
    strict verdicts must match a direct robots.py re-derivation."""
    import htmpark.queries as Q
    from htmpark.robots import parse_robots, robots_allowed

    rows = Q.q_web_robots_gate(spark, SF).collect()
    assert rows and {"allowed", "allowed_strict"} <= set(rows[0].asDict())
    div = [(r.doc_id, r.allowed, r.allowed_strict)
           for r in rows if r.allowed != r.allowed_strict]
    assert div  # the modes genuinely diverge on this corpus
    for did, a, s in div:
        assert did % 7 % 4 == 2 and did % 4 == 3, (did, a, s)
        assert (a, s) == (0, 1), did
    # cross-check every strict verdict against the library predicate
    for r in rows:
        txt = Q._ROBOTS_TEXTS[(r.doc_id % 7) % 4]
        want = robots_allowed(r.path,
                              parse_robots(txt, exact_tokens=True))
        assert bool(r.allowed_strict) == want, r.doc_id


def test_ico_container_round_trip_and_errors():
    """ICO icon-directory codec (r10 verdict growth item): byte-layout
    golden for a 2x2 icon, round-trip through the BMP-decoder re-frame
    for padded widths, checksum identity with the BMP framing of the
    same pixels, and loud failures on malformed directories."""
    import struct

    from htmpark import multimodal as mm

    px = bytes([1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12])
    ico = mm.encode_ico(2, 2, px)
    # golden header layout: ICONDIR(0,1,1) + entry(w,h,0,0,planes=1,
    # bpp=24, size=40+xor+and, offset=22)
    assert ico[:6] == struct.pack("<HHH", 0, 1, 1)
    assert ico[6:22] == struct.pack("<BBBBHHII", 2, 2, 0, 0, 1, 24,
                                    40 + 16 + 8, 22)
    # entry INFOHEADER carries the DOUBLED height
    assert struct.unpack_from("<Iii", ico, 22) == (40, 2, 4)
    assert mm.sniff_mime(ico) == "image/vnd.microsoft.icon"
    m = mm.decode_image(ico)
    assert (m["height"], m["width"], m["pixels"]) == (2, 2, px)
    assert m["pix_checksum"] == \
        mm.decode_image(mm.encode_bmp(2, 2, px))["pix_checksum"]

    for w, h in [(1, 1), (3, 2), (5, 4), (256, 256)]:
        p = bytes((i * 11 + 5) % 256 for i in range(w * h * 3))
        assert mm.decode_image(mm.encode_ico(w, h, p))["pixels"] == p
    assert mm.content_bytes(mm.encode_ico(3, 2, bytes(range(18)))) == \
        bytes(range(18))

    with pytest.raises(ValueError, match="at most 256"):
        mm.encode_ico(257, 4, bytes(257 * 4 * 3))
    with pytest.raises(ValueError, match="truncated ICO directory"):
        mm.decode_image(ico[:12])
    empty = ico[:4] + struct.pack("<H", 0) + ico[6:]
    with pytest.raises(ValueError, match="empty ICO directory"):
        mm.decode_image(empty)
    with pytest.raises(NotImplementedError, match="PNG-framed"):
        mm.decode_image(ico[:22] + b"\x89PNG" + ico[26:])
    odd = bytearray(ico)
    struct.pack_into("<i", odd, 22 + 8, 5)  # odd biHeight
    with pytest.raises(ValueError, match="even XOR"):
        mm.decode_image(bytes(odd))
    v5 = bytearray(ico)
    struct.pack_into("<I", v5, 22, 124)  # BITMAPV5HEADER entry
    with pytest.raises(ValueError, match="unsupported ICO entry"):
        mm.decode_image(bytes(v5))
    trunc = bytearray(ico[:40])  # entry bytes run past the payload
    with pytest.raises(ValueError, match="truncated ICO entry"):
        mm.decode_image(bytes(trunc))


def test_ico_roundtrip_property():
    """Hypothesis pin for the ICO codec (mirrors the BMP/WAV/BPE fuzz
    discipline: every real decoder gets a property suite, not just
    goldens): for arbitrary dims and pixel bytes, encode_ico ->
    decode_image is the identity on (width, height, pixels), the mime
    sniff routes the container, and the pixel checksum matches the BMP
    framing of the same matrix (the decoders share one row walker, so
    divergence here means the ICO re-frame corrupted geometry)."""
    from hypothesis import given, settings, strategies as st

    from htmpark import multimodal as mm

    @settings(max_examples=60, deadline=None)
    @given(st.integers(1, 40), st.integers(1, 40), st.randoms())
    def check(w, h, rnd):
        px = bytes(rnd.randrange(256) for _ in range(w * h * 3))
        ico = mm.encode_ico(w, h, px)
        assert mm.sniff_mime(ico) == "image/vnd.microsoft.icon"
        m = mm.decode_image(ico)
        assert (m["width"], m["height"], m["pixels"]) == (w, h, px)
        assert m["pix_checksum"] == \
            mm.decode_image(mm.encode_bmp(w, h, px))["pix_checksum"]

    check()
