"""Physical-plan audit: assert the plans are the ones a 100 TB deployment
needs — filters pushed to parquet, columns pruned, dimension joins
broadcast, top-k as TakeOrderedAndProject, codegen on the hot path.

Run: python scripts/explain_audit.py   (prints PASS/FAIL per check)
"""

from __future__ import annotations

import io
import re
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def tree_of(df) -> str:
    """Simple-mode explain — one line per node with inline join keys
    (``BroadcastHashJoin [term#5], [term#20]``), easier to key-match."""
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain()
    return buf.getvalue()


def check(name: str, ok: bool, detail: str = "") -> bool:
    print(f"{'PASS' if ok else 'FAIL'}  {name}" + (f"  [{detail}]" if detail and not ok else ""))
    return ok


def main() -> int:
    import os

    from pyspark.sql import functions as F  # noqa: F401

    from simple_tsdb_spark import get_spark
    from simple_tsdb_spark.operators import count_points, select_points, sum_points
    from simple_tsdb_spark.plans import revenue_by_nation
    from simple_tsdb_spark.sources import events_measurement

    # This audit asserts the AT-SCALE plans: the adaptive small-input
    # fan-out (functions/adaptive.py, r14) is a no-op above its size
    # threshold, so disable it globally here; its own on/off contract is
    # asserted by the dedicated "fan-out:" checks below, which flip the
    # env var locally.
    os.environ["SPARK_GRAFT_FAN_OUT_BYTES"] = "0"

    spark = get_spark("explain_audit")
    T0, T1 = 10**18, 2 * 10**18
    ev = events_measurement(spark, SF, t0=T0, t1=T1)
    ok = True

    # S1: predicate pushdown + column pruning + top-k limit
    p = plan_of(
        select_points(ev, series="click", fields=["value"], t0=T0, t1=T1, limit=10)
    )
    ok &= check("S1 time filter pushed to parquet", "PushedFilters" in p and "GreaterThanOrEqual(ts" in p)
    ok &= check("S1 series filter pushed", "EqualTo(event_type,click)" in p)
    ok &= check(
        "S1 column pruning (no props/user_id in scan)",
        "props" not in p.split("ReadSchema")[1].split("\n")[0] if "ReadSchema" in p else False,
    )
    ok &= check("S1 sort+limit is TakeOrderedAndProject", "TakeOrderedAndProject" in p)
    ok &= check("S1 whole-stage codegen", "codegen id" in p)

    # A1: count scans only the needed columns
    p = plan_of(count_points(ev, t0=T0, t1=T1))
    sch = p.split("ReadSchema")[1].split("\n")[0] if "ReadSchema" in p else ""
    ok &= check("A1 reads only ts/event_type", "value" not in sch and "props" not in sch, sch)

    # A2: one pre-spine aggregate exchange on (series, wstart) + tiny
    # bounded exchanges (time_first scalar, spine block-header repartition
    # — rows = nbuckets/2^16 block headers, added r13 to chunk the spine
    # below Spark's single-array cap).
    p = plan_of(sum_points(ev, fields=["value"], t0=T0, t1=T1, window_ns=86_400_000_000_000))
    n_exchange = len(re.findall(r"Arguments: hashpartitioning\(", p))
    ok &= check("A2 bounded shuffles (agg + tiny spine joins)", n_exchange <= 5, f"{n_exchange} exchanges")
    ok &= check("A2 partial aggregation (map-side combine)", "partial_count" in p or "Partial" in p)
    ok &= check("A2 spine join is broadcast", "BroadcastHashJoin" in p)

    # joins: dimensions broadcast
    p = plan_of(revenue_by_nation(spark, SF))
    ok &= check("revenue: customer/nation broadcast", p.count("BroadcastHashJoin") >= 2)

    # pair-generation operators: NO corpus-wide broadcast anywhere in the
    # plan — the self-joins must be shuffle joins on high-cardinality
    # bucket keys (band/bucket/salt), or the operator dies at 10^9 docs.
    from simple_tsdb_spark.pipeline import (
        embedding_dup_pairs,
        ngram_jaccard_pairs,
        simhash_pairs,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    embs = spark.read.parquet(f"{SF}/embeddings.parquet")
    # With auto-broadcast disabled, any BroadcastExchange left in the plan
    # is hint-FORCED — i.e. would still broadcast when the table is 100 TB.
    # (At sf0.01 Catalyst's size estimate legitimately broadcasts these
    # tiny tables; at real scale the same cost model picks shuffle joins.)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    try:
        for name, df in [
            ("simhash_pairs", simhash_pairs(docs, max_hamming=3)),
            ("embedding_dup", embedding_dup_pairs(embs)),
            ("ngram_jaccard", ngram_jaccard_pairs(docs)),
        ]:
            p = plan_of(df)
            ok &= check(
                f"{name}: no forced broadcast of the corpus",
                "BroadcastExchange" not in p,
                "plan contains BroadcastExchange",
            )
            ok &= check(
                f"{name}: bucketed shuffle join present",
                "hashpartitioning" in p and ("SortMergeJoin" in p or "ShuffledHashJoin" in p),
            )
        # embedding_dup's join must key on (quantizer block, salt) — the
        # salt keeps hot lists spread across salt_buckets tasks, so there
        # is no single-block skew path even at low list cardinality.
        p = plan_of(embedding_dup_pairs(embs))
        ok &= check(
            "embedding_dup: join keyed on (blk, salt) — salted, skew-free",
            bool(re.search(r"hashpartitioning\(blk#\d+, salt#\d+", p)),
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    # interval_join: the range predicate must ride a bucketed EQUI-join —
    # a naive |Δt| <= tol predicate plans as BroadcastNestedLoopJoin
    # (O(L×R) per series), the classic Spark range-join scale killer.
    from __spark_entry__ import _user_series

    from simple_tsdb_spark.operators import interval_join

    ev_l = _user_series(spark, SF, "click")
    ev_r = _user_series(spark, SF, "error")
    p = plan_of(
        interval_join(ev_l, ev_r, tol_ns=3_600_000_000_000, right_fields=["value"])
    )
    ok &= check(
        "interval_join: no BroadcastNestedLoopJoin", "BroadcastNestedLoopJoin" not in p
    )
    ok &= check(
        "interval_join: bucketed equi-join on (series, _b)",
        bool(re.search(r"hashpartitioning\(series#\d+, _b#\d+", p))
        or "BroadcastHashJoin" in p,  # AQE may broadcast the small side
    )

    # curation ops: splits/samples are pure expressions (no Exchange at
    # all — at 100 TB a shuffle here would be pure waste), and domain_topk
    # must show the two-stage salted ranking (two window sorts: first
    # keyed (domain, salt), then domain) so a hot domain can't pin a task.
    from simple_tsdb_spark.pipeline import domain_topk, hash_split, mixture_sample

    p = plan_of(hash_split(docs))
    ok &= check("hash_split: shuffle-free (no Exchange)", "Exchange" not in p)
    p = plan_of(mixture_sample(docs, {"web": 30}, default_rate=50))
    ok &= check("mixture_sample: shuffle-free (no Exchange)", "Exchange" not in p)
    p = plan_of(domain_topk(docs, k=25))
    ok &= check(
        "domain_topk: stage-1 rank keyed (domain, salt)",
        bool(re.search(r"hashpartitioning\(domain#\d+, _salt#\d+", p)),
    )
    ok &= check(
        "domain_topk: stage-2 exact rank keyed domain only",
        bool(re.search(r"hashpartitioning\(domain#\d+, \d+\)", p)),
    )

    # dsir_logweights: the bucket-ratio table (bounded by `buckets`) must
    # broadcast; the corpus text itself must never sit under a
    # BroadcastExchange (only bucket/ratio/total columns may).
    from simple_tsdb_spark.pipeline import dsir_logweights, tfidf_topk

    p = plan_of(dsir_logweights(docs, target_pred="lang = 'en'"))
    ok &= check("dsir: ratio table broadcast-joined", "BroadcastHashJoin" in p)
    ok &= check(
        "dsir: corpus text never broadcast",
        not re.search(r"BroadcastExchange[^\n]*\n[^\n]*text#", p),
    )
    ok &= check("dsir: doc aggregate map-side partial", "partial_sum" in p or "Partial" in p)

    # tfidf_topk: skew-proof by construction — the Zipf-skewed term key
    # never drives a corpus-sized shuffle join alone: hot terms (df above
    # a corpus fraction, a bounded set) broadcast-join, the tail joins
    # normally with every key < N·frac rows by definition.  The corpus
    # text itself must never broadcast (only term/df columns may).
    p = plan_of(tfidf_topk(docs, k=5))
    ok &= check(
        "tfidf: corpus text never broadcast",
        not re.search(r"BroadcastExchange[^\n]*\n[^\n]*text#", p),
    )
    ok &= check("tfidf: partial term aggregation", "partial_count" in p or "Partial" in p)
    # With auto-broadcast off, the only broadcasts left are the explicit
    # hints — proving the hot lane is forced (not a small-sf CBO accident)
    # and the tail lane is a keyed shuffle join whose every key is
    # < N·hot_df_frac rows wide by construction.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    try:
        t = tree_of(tfidf_topk(docs, k=5))
        ok &= check(
            "tfidf: bounded hot-term table broadcast-joined (forced, not CBO)",
            bool(re.search(r"BroadcastHashJoin \[term#\d+", t)),
        )
        ok &= check(
            "tfidf: long tail joins on term with bounded per-key width",
            bool(re.search(r"(SortMergeJoin|ShuffledHashJoin) \[term#\d+", t)),
        )

        # ngram_lm_score: both score joins (bigram key, history-word
        # key) follow the same hot/tail split — the forced broadcasts
        # are the bounded hot tables; the tail joins shuffle on keys
        # each < N·hot_frac rows wide by construction; the corpus text
        # itself never broadcasts.
        from simple_tsdb_spark.pipeline import ngram_lm_score

        t = tree_of(ngram_lm_score(docs))
        ok &= check(
            "ngram_lm: bounded hot-bigram table broadcast-joined (forced)",
            bool(re.search(r"BroadcastHashJoin \[g#\d+", t)),
        )
        ok &= check(
            "ngram_lm: hot history (w1) table broadcast-joined (forced)",
            bool(re.search(r"BroadcastHashJoin \[w1#\d+", t)),
        )
        ok &= check(
            "ngram_lm: bigram tail joins keyed g (bounded per-key width)",
            bool(re.search(r"(SortMergeJoin|ShuffledHashJoin) \[g#\d+", t)),
        )
        ok &= check(
            "ngram_lm: corpus text never broadcast",
            not re.search(r"BroadcastExchange[^\n]*\n[^\n]*text#", t),
        )

        # zscore_outliers: the per-series stats join must NOT force a
        # broadcast (10⁷ series in range → multi-GB table on every
        # executor); default plants no hint so AQE picks from the stats
        # side's runtime size.  broadcast_stats=True is an explicit opt-in.
        from simple_tsdb_spark.operators.timeseries import zscore_outliers

        t = tree_of(zscore_outliers(ev, field="value", t0=T0, t1=T1))
        ok &= check(
            "zscore: no forced broadcast of per-series stats (AQE decides)",
            "BroadcastExchange" not in t,
        )
        t = tree_of(
            zscore_outliers(ev, field="value", t0=T0, t1=T1, broadcast_stats=True)
        )
        ok &= check(
            "zscore: broadcast_stats=True still plants the hint",
            "BroadcastExchange" in t,
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    # winnowing_fingerprints: a pure per-doc projection + explode — the
    # only Exchange allowed is the final presentation ORDER BY (range
    # partitioning); no hash shuffle, no aggregation, no join.
    from simple_tsdb_spark.pipeline import (
        cluster_prune,
        topk_ngrams,
        winnowing_fingerprints,
    )

    # Fan-out disabled globally above (at-scale plan): zero shuffles.
    t = tree_of(winnowing_fingerprints(docs))
    ok &= check(
        "winnowing: zero hash shuffles (projection + explode only)",
        "hashpartitioning" not in t and "BroadcastExchange" not in t,
    )
    # Adaptive fan-out (r14): ACTIVE on a small input under the default
    # threshold (one bounded hash exchange appears), a NO-OP when the
    # threshold sits below the input — the scale-adaptive contract of
    # functions/adaptive.py.
    import os as _os

    _os.environ.pop("SPARK_GRAFT_FAN_OUT_BYTES", None)  # default: on
    try:
        t_on = tree_of(winnowing_fingerprints(docs))
    finally:
        _os.environ["SPARK_GRAFT_FAN_OUT_BYTES"] = "0"
    ok &= check(
        "fan-out: small input gets one bounded hash exchange",
        "hashpartitioning" in t_on,
    )
    _os.environ["SPARK_GRAFT_FAN_OUT_BYTES"] = "1"  # threshold below any input
    try:
        t_thresh = tree_of(winnowing_fingerprints(docs))
    finally:
        _os.environ["SPARK_GRAFT_FAN_OUT_BYTES"] = "0"
    ok &= check(
        "fan-out: no-op above size threshold (100 TB plan unchanged)",
        "hashpartitioning" not in t_thresh,
    )

    # stratified_split: exact selection must never rank a whole stratum
    # in one window — the only row_number window is keyed
    # (stratum, hash-bucket), i.e. ≤ 1/1024 of a stratum per task, and
    # the histogram cumsum window only ever sees ≤1024 rows per stratum.
    from simple_tsdb_spark.pipeline import stratified_split

    t2 = tree_of(stratified_split(docs, frac=0.1))
    ok &= check(
        "stratified_split: boundary rank keyed (stratum, bucket)",
        bool(re.search(r"hashpartitioning\(_st#\d+, _b#\d+", t2)),
    )
    ok &= check(
        "stratified_split: row_number never windows a whole stratum",
        all(
            re.search(r"row_number\(\) windowspecdefinition\(_st#\d+, _b#\d+", m)
            for m in re.findall(r"row_number\(\)[^\n]*", t2)
        )
        and "row_number" in t2,
    )
    ok &= check(
        "stratified_split: stratum-alone windows only over the ≤1024-row histogram",
        all(
            "sum(_c#" in m
            for m in re.findall(r"Window [^\n]*\], \[_st#\d+\], \[_b#", t2)
        ),
    )
    ok &= check(
        "stratified_split: histogram aggregation map-side partial",
        "partial_count" in t2 or "Partial" in t2,
    )
    ok &= check(
        "stratified_split: corpus text never shuffles (id/stratum/hash only)",
        not re.search(r"Exchange[^\n]*\n[^\n]*text#", t2),
    )

    # rp_project: a literal-matrix codegen scan — no shuffle, no join,
    # no broadcast; the only allowed Exchange is none at all.
    from simple_tsdb_spark.pipeline import rp_project

    t4 = tree_of(rp_project(embs))
    ok &= check(
        "rp_project: zero-shuffle literal-matrix projection",
        "Exchange" not in t4 and "Join" not in t4,
    )

    # materialized ANN index: the search scan must be partition-pruned
    # to the probed lists (directory-level, before any footer is read)
    # — the IVF deployment promise: per-query I/O ≈ nprobe/nlist of the
    # index, corpus-size independent.
    import tempfile as _tf

    from simple_tsdb_spark.pipeline import search_ann_index, write_ann_index

    idx_path = _tf.mkdtemp(prefix="audit_ann_") + "/idx"
    write_ann_index(spark, embs, idx_path)
    t6 = (
        search_ann_index(spark, idx_path, query_ids=[0, 1], k=5, nprobe=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    ok &= check(
        "ann_index: search scan partition-pruned to probed lists",
        bool(re.search(r"PartitionFilters: \[[^\]]*list_id", t6)),
    )
    import shutil as _sh

    _sh.rmtree(idx_path.rsplit("/", 1)[0], ignore_errors=True)

    # knn_rp: two-stage shape — queries and candidate ids broadcast,
    # the corpus itself never under a BroadcastExchange.
    from simple_tsdb_spark.pipeline import knn_rp

    t5 = tree_of(knn_rp(embs, query_ids=[0, 1, 2], k=5))
    ok &= check(
        "knn_rp: corpus embedding column never broadcast",
        not re.search(r"BroadcastExchange[^\n]*\n[^\n]*embedding#", t5),
    )
    ok &= check(
        "knn_rp: broadcast stages present (queries + candidates)",
        t5.count("BroadcastExchange") >= 2,
    )

    # dsir_resample: the Gumbel top-k selection must be
    # TakeOrderedAndProject (bounded per-partition top-k), never a
    # global sort; the bucket-ratio table broadcasts (bounded by
    # `buckets`), and the corpus text never broadcasts.
    from simple_tsdb_spark.pipeline import dsir_resample

    t3 = tree_of(dsir_resample(docs, target_pred="lang = 'en'", k=50))
    ok &= check("dsir_resample: top-k is TakeOrderedAndProject", "TakeOrderedAndProject" in t3)
    ok &= check(
        "dsir_resample: corpus text never broadcast",
        not re.search(r"BroadcastExchange[^\n]*\n[^\n]*text#", t3),
    )

    # topk_ngrams: global top-k must be TakeOrderedAndProject (each
    # partition ships only its local top k), never a full global sort.
    p = plan_of(topk_ngrams(docs, n=3, k=100))
    ok &= check("topk_ngrams: top-k is TakeOrderedAndProject", "TakeOrderedAndProject" in p)
    ok &= check(
        "topk_ngrams: gram aggregation map-side partial",
        "partial_count" in p or "Partial" in p,
    )

    # cluster_prune: the per-cluster rank must be the salted two-stage
    # idiom — stage 1 keyed (cluster, salt) so a giant cluster cannot
    # pin one task, stage 2 exact on the bounded survivors.
    p = plan_of(cluster_prune(embs, k=10))
    ok &= check(
        "cluster_prune: stage-1 rank keyed (cluster, salt)",
        bool(re.search(r"hashpartitioning\(cluster#\d+, _salt#\d+", p)),
    )
    ok &= check(
        "cluster_prune: stage-2 exact rank keyed cluster only",
        bool(re.search(r"hashpartitioning\(cluster#\d+, \d+\)", p)),
    )

    # knn_ivf: the corpus must NEVER shuffle on list_id — its only join is
    # against the hint-broadcast (tiny) probe set; the shuffles in the plan
    # are the query-side ranking windows keyed by query_id.
    from simple_tsdb_spark.pipeline import knn_ivf

    p = plan_of(knn_ivf(embs, query_ids=(0, 1, 2, 3, 4), k=10))
    ok &= check("knn_ivf: probes broadcast to the corpus", "BroadcastHashJoin" in p)
    ok &= check(
        "knn_ivf: corpus never shuffles on list_id",
        "hashpartitioning(list_id" not in p,
        "corpus shuffled by list_id",
    )

    # range_search: same scan shape as knn_brute — query set broadcasts,
    # the corpus itself never shuffles (the only exchange is the final sort).
    from simple_tsdb_spark.pipeline import range_search

    p = plan_of(range_search(embs, query_ids=(0, 1, 2, 3, 4), tau=0.3))
    ok &= check("range_search: queries broadcast to the corpus", "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p)
    ok &= check(
        "range_search: corpus never hash-shuffles",
        "hashpartitioning(" not in p,
        "corpus shuffled",
    )

    # bm25_topk: per-term tf is a pure projection — the corpus scans ONCE
    # with no explode (Generate) and no shuffle; stats broadcast back; the
    # ranking is TakeOrderedAndProject.
    from simple_tsdb_spark.pipeline import bm25_topk

    p = plan_of(bm25_topk(docs, query_terms=("spark", "vector", "merge"), k=20))
    ok &= check("bm25: no explode (tf is a filter-size projection)", "Generate" not in p)
    ok &= check("bm25: corpus never hash-shuffles", "hashpartitioning(" not in p)
    ok &= check("bm25: top-k is TakeOrderedAndProject", "TakeOrderedAndProject" in p)
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", p))
    ok &= check("bm25: at most two corpus scans (stats + score)", n_scans <= 2, f"{n_scans} scans")

    # hopping_mean: the overlap explode is a fixed-factor Generate; ONE
    # aggregate exchange keyed (series, wstart) with map-side combine.
    from simple_tsdb_spark.operators import hopping_mean

    p = plan_of(
        hopping_mean(
            ev, field="value", t0=T0, t1=T1,
            window_ns=86_400_000_000_000, slide_ns=21_600_000_000_000,
        )
    )
    n_exchange = len(re.findall(r"Arguments: hashpartitioning\(", p))
    ok &= check("hopping_mean: exactly one aggregate exchange", n_exchange == 1, f"{n_exchange}")
    ok &= check("hopping_mean: map-side partial aggregation", "partial_count" in p or "Partial" in p)

    # time_weighted_avg: the window sort and the aggregate both key on
    # (series, wstart) — finer than per-series, so one giant series
    # spreads across its windows.
    from simple_tsdb_spark.operators import time_weighted_avg

    p = plan_of(
        time_weighted_avg(ev, field="value", t0=T0, t1=T1, window_ns=86_400_000_000_000)
    )
    ok &= check(
        "time_weighted_avg: state keyed (series, wstart), not per-series",
        re.search(r"hashpartitioning\(series#\d+, wstart", p) is not None,
    )

    # pmi_topk: post-aggregation m:1 joins (no Zipf skew can reach a
    # join), top-k as TakeOrderedAndProject, no corpus broadcast.
    from simple_tsdb_spark.pipeline import pmi_topk

    t = tree_of(pmi_topk(docs, k=50, min_count=5))
    ok &= check("pmi: top-k is TakeOrderedAndProject", "TakeOrderedAndProject" in t)
    ok &= check(
        "pmi: aggregated unigram table broadcasts onto aggregated bigrams",
        t.count("BroadcastHashJoin") >= 2 and "CartesianProduct" not in t,
    )

    # block_dedup: corpus-linear — one md5-block exchange + one doc
    # exchange, nothing quadratic, no broadcast of the corpus.
    from simple_tsdb_spark.pipeline import block_dedup

    p = plan_of(block_dedup(docs))
    n_exchange = len(re.findall(r"Arguments: hashpartitioning\(", p))
    ok &= check("block_dedup: bounded exchanges (block window + doc agg)", n_exchange <= 3, f"{n_exchange}")
    ok &= check("block_dedup: no corpus broadcast", "BroadcastExchange" not in p)

    # burn_rate_alerts: both granularities from ONE aggregation — a
    # second agg + end-keyed join would double the shuffle.
    from simple_tsdb_spark.operators.timeseries import burn_rate_alerts

    p = plan_of(
        burn_rate_alerts(
            ev, error_series="click", short_ns=3_600_000_000_000,
            long_ns=21_600_000_000_000, slide_ns=900_000_000_000,
            short_threshold=0.1, long_threshold=0.1,
        )
    )
    n_exchange = len(re.findall(r"Arguments: hashpartitioning\(", p))
    ok &= check("burn_rate: exactly one aggregate exchange (no join)", n_exchange == 1, f"{n_exchange}")
    ok &= check("burn_rate: no join operator", "Join" not in p)

    # interval_join bucket ids must be integer `div` arithmetic — a double
    # division of epoch-ns (~1.7e18 > 2^53) rounds, and rows at exact tol
    # multiples could misbucket (silent false negatives at |Δt|==tol).
    p = plan_of(
        interval_join(ev_l, ev_r, tol_ns=3_600_000_000_000, right_fields=["value"])
    )
    ok &= check(
        "interval_join: bucket ids via integer div (no double rounding)",
        " div " in p and not re.search(r"FLOOR\(\(cast\(time_ns#\d+ as double\)", p, re.I),
    )

    # pack_sequences strict: exactly the one hash-group shuffle the
    # default mode has — first-fit runs inside applyInPandas per group.
    from simple_tsdb_spark.pipeline import pack_sequences

    p = plan_of(pack_sequences(docs, budget=4096, strict=True))
    ok &= check(
        "pack_sequences strict: single grp-keyed shuffle",
        len(re.findall(r"Arguments: hashpartitioning\(", p)) == 1
        and bool(re.search(r"hashpartitioning\(grp#\d+", p)),
    )

    # simhash_band_dedup (streaming twin): band-key window + doc agg only;
    # the corpus must not be broadcast for the ownership computation.
    from simple_tsdb_spark.pipeline import simhash_band_dedup

    p = plan_of(simhash_band_dedup(docs, max_hamming=3))
    ok &= check(
        "simhash_band_dedup: no corpus broadcast",
        "BroadcastExchange" not in p,
    )

    # knn_ivf_pq: the only broadcasts are the tiny literal codebook table
    # and the probe/LUT set — the corpus side must reach the ADC join as
    # a shuffle-free scan plus its one encode groupBy.
    from simple_tsdb_spark.pipeline import knn_ivf_pq

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    try:
        p = plan_of(knn_ivf_pq(embs, query_ids=(0, 1, 2, 3, 4), k=10))
        ok &= check(
            "knn_ivf_pq: corpus never shuffles on list_id",
            "hashpartitioning(list_id" not in p,
        )
        ok &= check(
            "knn_ivf_pq: encode argmin is codegen min_by (no interpreted dist arrays)",
            "min_by" in p,
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    # span ops: decontaminate must broadcast ONLY the benchmark gram set
    # (the corpus side never shuffles before the doc-keyed agg);
    # boilerplate_spans must never broadcast the corpus even with
    # auto-broadcast off (its two shuffles are uniform md5 span keys).
    from simple_tsdb_spark.pipeline import boilerplate_spans, decontaminate
    from simple_tsdb_spark.sources.fixtures import read_fixture

    docs = read_fixture(spark, SF, "documents")
    p = plan_of(decontaminate(docs.where("doc_id % 97 = 0"), docs.where("doc_id % 97 = 0")))
    ok &= check(
        "decontaminate: benchmark grams broadcast",
        "BroadcastExchange" in p and "BroadcastHashJoin" in p,
    )
    # Corpus-sized data must reach the broadcast join shuffle-free.  The
    # allowed exchanges are all small: the bench-side distinct (one
    # hashpartitioning(g) feeding the BroadcastExchange), and the
    # post-join countDistinct pair keyed on doc_id — those carry only the
    # hit set, not the corpus.
    ok &= check(
        "decontaminate: only bench-distinct + post-join-hit exchanges",
        p.count("hashpartitioning(g#") == 1
        and "BroadcastHashJoin" in p
        and p.count("hashpartitioning(") <= 3,
    )
    from simple_tsdb_spark.pipeline import decontaminate_pairs

    p = plan_of(
        decontaminate_pairs(docs.where("doc_id % 97 = 0"), docs.where("doc_id % 97 = 0"))
    )
    ok &= check(
        "decontaminate_pairs: bench (bench_id, gram) pairs broadcast, corpus exchange-free",
        "BroadcastHashJoin" in p
        and p.count("hashpartitioning(bench_id") == 1  # bench-side distinct only
        and p.count("hashpartitioning(") <= 3,
    )

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    try:
        p = plan_of(boilerplate_spans(docs))
        ok &= check("boilerplate_spans: no corpus broadcast", "BroadcastExchange" not in p)
        ok &= check(
            "boilerplate_spans: span-df shuffle keyed on uniform hash",
            "hashpartitioning(h" in p,
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    # native writer layout: time_ns is a stored column → direct pushdown +
    # series partition pruning, no adapter hint needed
    import tempfile

    import pandas as pd
    from pyspark.sql import types as T

    from simple_tsdb_spark.sources.writer import write_points

    path = tempfile.mkdtemp() + "/m"
    schema = T.StructType(
        [
            T.StructField("series", T.StringType(), False),
            T.StructField("time_ns", T.LongType(), False),
            T.StructField("v", T.DoubleType(), True),
        ]
    )
    pdf = pd.DataFrame(
        [("s1", 100 + i, float(i)) for i in range(50)] + [("s2", 100 + i, 1.0) for i in range(50)],
        columns=["series", "time_ns", "v"],
    )
    write_points(spark, path, spark.createDataFrame(pdf, schema))
    native = spark.read.parquet(path)
    p = plan_of(select_points(native, series="s1", t0=110, t1=120))
    ok &= check(
        "native: time_ns filter pushed directly",
        "GreaterThanOrEqual(time_ns,110)" in p and "LessThanOrEqual(time_ns,120)" in p,
    )
    ok &= check("native: series partition pruning", "PartitionFilters: [isnotnull(series" in p)

    # Wire write WAL lane: a monotone driver-resident append must cost
    # ZERO Spark jobs — the driver writes the partition parquet files
    # itself (writer.py::_try_wal_append_pandas), the analog of the
    # reference WAL absorbing small writes before chunk-store fold-in.
    # With wal_lane=False the Spark lane must still be exactly ONE job.
    from simple_tsdb_spark.sources.writer import write_points_pandas

    sc = spark.sparkContext
    pdf2 = pd.DataFrame(
        [("s1", 1000 + i, float(i)) for i in range(50)],
        columns=["series", "time_ns", "v"],
    )
    sc.setJobGroup("audit_walwrite", "audit")
    write_points_pandas(spark, path, pdf2, schema)
    sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup("audit_walwrite")
    ok &= check(
        "write WAL lane: monotone pandas append = 0 Spark jobs",
        len(jobs) == 0,
        f"{len(jobs)} jobs",
    )
    pdf3 = pd.DataFrame(
        [("s1", 2000 + i, float(i)) for i in range(50)],
        columns=["series", "time_ns", "v"],
    )
    sc.setJobGroup("audit_fastwrite", "audit")
    write_points_pandas(spark, path, pdf3, schema, wal_lane=False)
    sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup("audit_fastwrite")
    ok &= check(
        "write fast lane: monotone pandas Spark append = 1 Spark job",
        len(jobs) == 1,
        f"{len(jobs)} jobs",
    )

    # doc_chunks: pure codegen scan — split/sequence/posexplode/slice with
    # NO aggregate or join exchange anywhere (the only exchange allowed is
    # the presentational output sort), and the scan reads only (doc_id, text).
    from simple_tsdb_spark.pipeline import doc_chunks

    p = plan_of(doc_chunks(docs, window=64, stride=48))
    ok &= check(
        "doc_chunks: zero data shuffles (explode rides the scan)",
        "hashpartitioning(" not in p and "Generate" in p,
    )
    sch = p.split("ReadSchema")[1].split("\n")[0] if "ReadSchema" in p else ""
    ok &= check("doc_chunks: scan pruned to doc_id+text", "lang" not in sch and "source" not in sch, sch)

    # hard_negatives: the query set broadcasts; the corpus reaches the
    # label-filtered scoring join shuffle-free (same contract as knn_brute).
    from simple_tsdb_spark.pipeline import hard_negatives

    p = plan_of(hard_negatives(embs, query_ids=(0, 1, 2, 3, 4), k=10))
    ok &= check(
        "hard_negatives: corpus scan never hash-shuffles pre-join",
        "BroadcastExchange" in p
        and not re.search(r"hashpartitioning\((nid|vec_id)#\d+", p),
    )

    # forecast_revenue: every Q6 predicate reaches the parquet scan and the
    # scan is pruned to the four referenced columns.
    from simple_tsdb_spark.plans import forecast_revenue

    p = plan_of(forecast_revenue(spark, SF))
    ok &= check(
        "forecast_revenue: ship-date+discount+qty predicates pushed",
        "PushedFilters" in p
        and "GreaterThanOrEqual(l_shipdate" in p
        and "LessThan(l_quantity" in p
        and "GreaterThanOrEqual(l_discount" in p,
    )
    sch = p.split("ReadSchema")[1].split("\n")[0] if "ReadSchema" in p else ""
    ok &= check(
        "forecast_revenue: scan pruned (no orderkey/partkey)",
        "l_orderkey" not in sch and "l_partkey" not in sch,
        sch,
    )
    ok &= check(
        "forecast_revenue: map-side partial aggregation",
        "partial" in p.lower(),
    )

    # event_transitions: ONE user-keyed shuffle feeds the lead window; the
    # downstream aggregates ride map-side combine onto the tiny type×type
    # key space (their exchanges carry ≤ |types|² rows).
    from simple_tsdb_spark.plans import event_transitions

    p = plan_of(event_transitions(spark, SF))
    ok &= check(
        "event_transitions: lead window shuffles on user_id",
        bool(re.search(r"hashpartitioning\(user_id#\d+", p)),
    )
    ok &= check(
        "event_transitions: count agg is map-side combined",
        "partial_count" in p,
    )
    sch = p.split("ReadSchema")[1].split("\n")[0] if "ReadSchema" in p else ""
    ok &= check(
        "event_transitions: scan pruned (no props/value)",
        "props" not in sch and "value" not in sch,
        sch,
    )

    # autocorr: one series shuffle for the lead window; the stacked pair
    # stream aggregates with partial combine (the (series,lag) exchange
    # carries only per-partition partials).
    from simple_tsdb_spark.operators import autocorr

    p = plan_of(autocorr(ev, field="value", lags=(1, 2, 3), t0=T0, t1=T1))
    ok &= check(
        "autocorr: series window shuffle + partial-combined pair agg",
        bool(re.search(r"hashpartitioning\(series#\d+", p)) and "partial_count" in p,
    )
    ok &= check(
        "autocorr: time predicate pushed to scan",
        "PushedFilters" in p and "GreaterThanOrEqual(ts" in p,
    )

    # temperature_mixture: the corpus never shuffles — one count agg
    # (map-side combined), the <= #sources weight table BROADCAST back,
    # stateless threshold filter.
    from simple_tsdb_spark.pipeline import temperature_mixture

    p = plan_of(temperature_mixture(docs, target_total=300))
    ok &= check(
        "temperature_mixture: weight table broadcast (no corpus shuffle join)",
        "BroadcastHashJoin" in p and "SortMergeJoin" not in p,
    )
    ok &= check(
        "temperature_mixture: count agg partial-combined",
        "partial_count" in p,
    )

    # embedding_moments: corpus bytes never move — ONE mapInPandas scan,
    # the only exchange carries the tiny per-partition partial rows.
    from simple_tsdb_spark.pipeline import embedding_moments

    embs = spark.read.parquet(f"{SF}/embeddings.parquet")
    p = plan_of(embedding_moments(embs))
    n_exchange = len(re.findall(r"Arguments: hashpartitioning\(", p))
    # formatted explain prints each node twice (tree line + detail)
    ok &= check(
        "embedding_moments: single partial-row exchange, one Arrow fold",
        n_exchange == 1 and tree_of(embedding_moments(embs)).count("MapInPandas") == 1,
        f"{n_exchange} exchanges",
    )
    ok &= check(
        "embedding_moments: vector column pruned to the scan",
        "ReadSchema" in p and "label" not in p.split("ReadSchema")[1].split("\n")[0],
    )

    # ivf_stats: corpus scanned once, assignment is a projection (no
    # join against the corpus), count shuffle keyed by <= nlist ids.
    from simple_tsdb_spark.pipeline import ivf_stats

    p = plan_of(ivf_stats(embs))
    ok &= check(
        "ivf_stats: assignment is a projection + partial-combined count",
        "partial_count" in p and "SortMergeJoin" not in p,
    )

    # keep_best_dedup adds only an m:1 quality join + per-component rank
    # window on top of the audited dedup_components rounds — audit the
    # final stage shape (window partitioned by component, no broadcast
    # of the doc table's text).
    from simple_tsdb_spark.pipeline import keep_best_dedup

    pairs = docs.limit(50).selectExpr("doc_id AS a", "doc_id + 1 AS b")
    p = plan_of(keep_best_dedup(pairs, docs))
    ok &= check(
        "keep_best_dedup: per-component rank window present",
        bool(re.search(r"row_number\(\)", p)) and "component" in p,
    )

    # order_priority_counts: the EXISTS must stay a LEFT SEMI join (no
    # row explosion, no distinct stage) with the date filter pushed.
    from simple_tsdb_spark.plans import (
        large_volume_customers,
        order_priority_counts,
        revenue_cube,
    )

    p = plan_of(order_priority_counts(spark, SF))
    ok &= check(
        "Q4 shape: EXISTS compiled to a semi join",
        "LeftSemi" in p and "Distinct" not in p,
    )
    ok &= check(
        "Q4 shape: order-date predicate pushed to parquet",
        "PushedFilters" in p and "GreaterThanOrEqual(o_orderdate" in p,
    )

    # large_volume_customers: lineitem aggregates FIRST (group-HAVING,
    # one scan), customer broadcasts, final ranking is top-k.
    p = plan_of(large_volume_customers(spark, SF))
    ok &= check(
        "Q18 shape: one lineitem scan (agg-first HAVING, no IN-subquery rescan)",
        p.count("lineitem.parquet") == 1,
    )
    ok &= check(
        "Q18 shape: broadcast dim + TakeOrderedAndProject",
        "BroadcastHashJoin" in p and "TakeOrderedAndProject" in p,
    )

    # revenue_cube: ROLLUP = ONE aggregation over an Expand, not three
    # separate scans/shuffles.
    p = plan_of(revenue_cube(spark, SF))
    ok &= check(
        "revenue_cube: grouping sets via a single Expand + shared agg",
        "Expand" in p and p.count("lineitem.parquet") == 1,
    )

    # min_cost_parts: the correlated subquery must be ONE window over
    # the type key — no self-join, no per-type re-scan.
    from simple_tsdb_spark.plans import min_cost_parts, nation_balance_share

    p = plan_of(min_cost_parts(spark, SF))
    ok &= check(
        "Q2 shape: correlated subquery decorrelated to one window (no join)",
        "Window" in p and "Join" not in p and p.count("part.parquet") == 1,
    )

    # nation_balance_share: the global scalar broadcasts (one-row
    # nested-loop), never a shuffle join against the group table.
    p = plan_of(nation_balance_share(spark, SF))
    ok &= check(
        "Q11 shape: global scalar broadcast onto the group aggregation",
        "BroadcastNestedLoopJoin" in p and "SortMergeJoin" not in p,
    )

    # range_moving_avg: one series shuffle; the RANGE frame is a window
    # spec, not a self-join.
    from simple_tsdb_spark.operators import range_moving_avg

    p = plan_of(range_moving_avg(ev, field="value", window_ns=3_600_000_000_000))
    ok &= check(
        "range_moving_avg: single series-keyed window (no self-join)",
        bool(re.search(r"hashpartitioning\(series#\d+", p))
        and "Join" not in p.split("Window")[0],
    )

    # quality_filter_pct: exact quantile thresholds resolve on the
    # DISTINCT-value rank histogram — the single-partition window must
    # consume an aggregate on the score key (running sum), never a
    # corpus-wide row_number sort.
    from simple_tsdb_spark.pipeline import quality_filter_pct

    docs_df = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan_of(quality_filter_pct(docs_df, pct=0.1))
    ok &= check(
        "quality_filter_pct: histogram order stats (agg on score key, no row_number)",
        "row_number" not in p
        and bool(re.search(r"hashpartitioning\(quality_ppm#\d+", p)),
    )

    # BPE word-table fit (round 13): the only driver payload is the
    # TakeOrdered(top_m) result — the plan must carry map-side partial
    # aggregation and never a full global sort of the word table.
    from simple_tsdb_spark.pipeline.bpe import word_freq_plan

    p = plan_of(word_freq_plan(docs_df, top_m=512))
    ok &= check(
        "bpe fit: partial agg + TakeOrdered, no global sort",
        ("partial_count" in p or "Partial" in p)
        and "TakeOrderedAndProject" in p
        and "rangepartitioning" not in p,
    )

    # Giant inlined-expression Filters (the round-11 regression class):
    # a pushed-down predicate or a join-inferred isnotnull that inlines a
    # projection/quantizer fold re-evaluates it per corpus row.  Assert
    # the CORPUS-side scan of every vector operator stays clean — a
    # Filter node dragging >2000 chars of expression text is that bug.
    # (Query-side branches are id-pruned to a handful of rows and may
    # legitimately carry fat filters; corpus scans must not.)
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    for qname in ("knn_rp", "knn_ivf", "knn_ivf_pq", "semdedup", "embedding_dup"):
        opt = qs[qname](spark, SF)._jdf.queryExecution().optimizedPlan().toString()
        giants = [
            ln
            for ln in opt.splitlines()
            # query-side filters carry the isin(vec_id, ...) probe list —
            # scan the WHOLE line for it (an IN list can start past any
            # fixed offset), corpus-side filters never reference vec_id
            if "Filter" in ln and len(ln) > 2000
            and " IN " not in ln and "INSET" not in ln
        ]
        ok &= check(
            f"{qname}: corpus scan free of giant inlined-expression Filters",
            not giants,
            f"{len(giants)} filter node(s) >2000 chars",
        )

    print("==", "ALL PASS" if ok else "SOME FAILED", "==")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
