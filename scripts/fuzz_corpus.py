"""Cross-engine fuzz: query/oracle pairs on PATHOLOGICAL tables.

The driver gate only ever sees the generated TPC-H-ish corpus; the
degenerate paths (empty fit sets, <2-token docs, 100%-duplicate corpora,
unicode edges, zero-norm embeddings, same-timestamp event streams) are
exactly where engines diverge — the r10 ADVICE found one such hole
(lm_perplexity_buckets' empty threshold CTE) and this harness found
three more in round 11 (ln(0) crash on an empty LM fit set, DuckDB
greatest() ignoring NULL for zero-char docs, ::BLOB raising on
non-ASCII).  It rebuilds a scale dir with ONE pathological table (all
other tables symlinked from sf0.001) and runs every query/oracle pair
that reads that table through the strict dtype-kind compare of
scripts/check_oracle.py.

Usage: python scripts/fuzz_corpus.py [corpus ...]
Corpora: the keys of CORPORA below (run with ``--list`` to print them);
the docstring deliberately does not repeat the list so it cannot drift.
"""

from __future__ import annotations

import os
import re
import shutil
import sys
import tempfile

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from check_oracle import TABLES, compare, duck_con  # noqa: E402

BASE_SF = "/root/testdata/sf0.001"

LANGS = ["en", "de", "es", "fr", "zh"]
EVENT_TYPES = ["click", "view", "signup", "purchase", "error"]
BASE_TS = pd.Timestamp("2024-01-01 00:00:00")
EMB_DIM = 64


# -- documents corpora --------------------------------------------------------

def _docs_df(rows: list[tuple[int, str, str, str]]) -> pd.DataFrame:
    """(doc_id, text, lang, source) -> driver-schema documents frame."""
    df = pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source"])
    df["doc_id"] = df["doc_id"].astype("int64")
    df["n_chars"] = df["text"].str.len().astype("int64")
    return df


def corpus_degenerate() -> pd.DataFrame:
    """Sub-bigram docs: empty strings, single chars, single words —
    every per-doc denominator (n_bigrams, n_words-1, shingle count)
    at or below its floor; src0 present so the LM fit set is tiny but
    non-empty."""
    texts = ["", "a", "x", "word", "  ", "a b", "!"]
    return _docs_df(
        [(i, texts[i % len(texts)], LANGS[i % 5], f"src{i % 4}") for i in range(28)]
    )


def corpus_identical() -> pd.DataFrame:
    """100% duplicate corpus: every pair is a dup, every gram df = N."""
    t = "the quick brown fox jumps over the lazy dog again and again"
    return _docs_df([(i, t, "en", f"src{i % 3}") for i in range(24)])


def corpus_unicode() -> pd.DataFrame:
    """Emoji / CJK / combining marks / RTL — code-point vs byte length
    and tokenizer edges."""
    texts = [
        "😀😀 😀 emoji run 😀",
        "汉字 没有 空格 的 语言 处理 汉字",
        "é combining acute é twice",
        "שלום rtl hebrew שלום",
        "mixed 汉字 and ascii and 😀 marks",
        "ZERO​WIDTH​JOINED words",
    ]
    return _docs_df(
        [
            (i, texts[i % len(texts)] + (" tail" if i % 2 else ""), LANGS[i % 5], f"src{i % 4}")
            for i in range(24)
        ]
    )


def corpus_no_fit() -> pd.DataFrame:
    """No src0 docs at all: the bigram-LM fit set is EMPTY (vocab 0,
    every gram unseen) — ln/COALESCE edges on both engines."""
    return _docs_df(
        [
            (i, f"doc {i} has some plain words to score against nothing", "en", f"src{1 + i % 3}")
            for i in range(20)
        ]
    )


def corpus_single_doc() -> pd.DataFrame:
    """A corpus of one document — window/percentile/df statistics at
    n=1 (terciles collapse, df caps trivially)."""
    return _docs_df([(0, "just one document in the whole corpus here", "en", "src0")])


def corpus_nulls() -> pd.DataFrame:
    """NULL text / lang / source mixed into an otherwise healthy corpus —
    at warehouse scale some rows WILL arrive with missing fields, and one
    corrupt row must not kill (or skew) a corpus-wide scan.  NULL text
    must poison that doc's per-doc stats identically on both engines;
    NULL group keys (lang/source) must land in the same NULL group."""
    rows = []
    for i in range(30):
        text = f"plain document {i} with enough words to score and shingle properly"
        rows.append((i, text, LANGS[i % 5], f"src{i % 4}"))
    df = _docs_df(rows)
    df.loc[df.index % 7 == 0, "text"] = None
    df.loc[df.index % 11 == 3, "lang"] = None
    df.loc[df.index % 13 == 5, "source"] = None
    df["n_chars"] = df["text"].str.len().astype("Int64")  # nullable int64
    return df


# -- events corpora -----------------------------------------------------------

def _events_df(rows: list[tuple[int, pd.Timestamp, int, str, float]]) -> pd.DataFrame:
    df = pd.DataFrame(rows, columns=["event_id", "ts", "user_id", "event_type", "value"])
    df["event_id"] = df["event_id"].astype("int64")
    df["ts"] = pd.to_datetime(df["ts"]).astype("datetime64[us]")
    df["user_id"] = df["user_id"].astype("int64")
    df["value"] = df["value"].astype("float64")
    df["props"] = [f'{{"k": {i % 7}}}' for i in range(len(df))]
    return df


def events_same_ts() -> pd.DataFrame:
    """EVERY event at the same microsecond: zero-duration sessions,
    dt = 0 in derivative/counter-rate lanes, total order falls entirely
    to the event_id tiebreaks."""
    return _events_df(
        [(i, BASE_TS, i % 4, EVENT_TYPES[i % 5], float(10 + i)) for i in range(40)]
    )


def events_single_user() -> pd.DataFrame:
    """One user owns the whole stream — per-user windows at maximal
    depth, DAU = 1, every funnel/transition belongs to the same key."""
    return _events_df(
        [
            (i, BASE_TS + pd.Timedelta(minutes=7 * i), 1, EVENT_TYPES[i % 5], float(i) / 4)
            for i in range(60)
        ]
    )


def events_sparse_types() -> pd.DataFrame:
    """Exactly one event per type (distinct users, distinct hours): no
    funnel ever completes, no transition pair exists per user, every
    series has a single point (derivative/ewma/holt at n=1)."""
    return _events_df(
        [
            (i, BASE_TS + pd.Timedelta(hours=3 * i), 100 + i, EVENT_TYPES[i], 5.0 * (i + 1))
            for i in range(len(EVENT_TYPES))
        ]
    )


def events_null_values() -> pd.DataFrame:
    """NULL event values (sensor gaps) sprinkled into a healthy stream:
    sums/means/derivatives must skip them identically on both engines."""
    df = _events_df(
        [
            (i, BASE_TS + pd.Timedelta(minutes=11 * i), i % 6, EVENT_TYPES[i % 5],
             float(i % 17))
            for i in range(60)
        ]
    )
    df["value"] = df["value"].astype("Float64")  # nullable: parquet NULL, not NaN
    df.loc[df.index % 5 == 0, "value"] = pd.NA
    return df


def events_null_keys() -> pd.DataFrame:
    """NULL user_id / event_type keys in a healthy stream: NULL group
    keys must land in the same (single) NULL group on both engines —
    group-bys keep them, equi-joins drop them; either is fine as long
    as the engines agree."""
    df = _events_df(
        [
            (i, BASE_TS + pd.Timedelta(minutes=13 * i), i % 5, EVENT_TYPES[i % 5],
             float(i % 11))
            for i in range(55)
        ]
    )
    df["user_id"] = df["user_id"].astype("Int64")
    df.loc[df.index % 7 == 2, "user_id"] = pd.NA
    df.loc[df.index % 11 == 5, "event_type"] = None
    return df


def events_far_future() -> pd.DataFrame:
    """Timestamps spread out to year ~2200 (ns-epoch still inside
    int64): epoch math, bucketing, and duration arithmetic must agree
    at extreme magnitudes.  (Pre-1970 is out of contract — the
    reference's timestamps are u64.)"""
    return _events_df(
        [
            (i,
             pd.Timestamp("2199-12-01") + pd.Timedelta(hours=6 * i),
             i % 4, EVENT_TYPES[i % 5], float(5 + i % 9))
            for i in range(48)
        ]
    )


def events_minimal() -> pd.DataFrame:
    """Two events, one user, one type — the smallest stream where both
    a window and a pair can exist."""
    return _events_df(
        [
            (0, BASE_TS, 1, "click", 1.0),
            (1, BASE_TS + pd.Timedelta(seconds=30), 1, "click", 2.0),
        ]
    )


# -- embeddings corpora -------------------------------------------------------

def _emb_table(vecs: list[np.ndarray], labels: list[int]) -> pa.Table:
    return pa.table(
        {
            "vec_id": pa.array(range(len(vecs)), pa.int64()),
            "embedding": pa.array(
                [v.astype(np.float32).tolist() for v in vecs],
                pa.list_(pa.float32()),
            ),
            "label": pa.array(labels, pa.int32()),
        }
    )


def emb_zero() -> pa.Table:
    """Zero-norm vectors in the corpus: cosine denominators hit 0 —
    both engines must agree on the NULL/inf convention."""
    rng = np.random.default_rng(11)
    vecs = [
        np.zeros(EMB_DIM) if i % 5 == 0 else rng.normal(size=EMB_DIM)
        for i in range(40)
    ]
    return _emb_table(vecs, [i % 10 for i in range(40)])


def emb_identical() -> pa.Table:
    """Every vector identical: all cosines tie at 1 — top-k order falls
    entirely to the deterministic id tiebreaks; kmeans collapses."""
    v = np.arange(EMB_DIM, dtype=np.float64) / EMB_DIM + 0.25
    return _emb_table([v.copy() for _ in range(32)], [i % 10 for i in range(32)])


def emb_single() -> pa.Table:
    """A corpus of one vector — every index trains on n=1."""
    rng = np.random.default_rng(13)
    return _emb_table([rng.normal(size=EMB_DIM)], [3])


def emb_one_label() -> pa.Table:
    """All vectors share one label — label_centroids at a single group,
    hard-negative mining with no cross-label candidates."""
    rng = np.random.default_rng(17)
    return _emb_table([rng.normal(size=EMB_DIM) for _ in range(30)], [7] * 30)


def emb_nulls() -> pa.Table:
    """NULL embeddings and vectors with a NULL ELEMENT mixed into a
    healthy corpus: a corrupt row's NULL norm/dot must exclude it from
    every cosine path on both engines, never abort the scan."""
    rng = np.random.default_rng(19)
    vecs = []
    for i in range(36):
        v = rng.normal(size=EMB_DIM).astype(np.float32).tolist()
        if i % 9 == 4:
            v[i % EMB_DIM] = None  # one NULL element
        vecs.append(None if i % 7 == 0 else v)
    return pa.table({
        "vec_id": pa.array(range(len(vecs)), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array([i % 10 for i in range(len(vecs))], pa.int32()),
    })


def emb_inf() -> pa.Table:
    """±inf elements in otherwise healthy vectors: both engines treat
    inf with IEEE arithmetic (inf norms, nan cosines) — the conventions
    must agree wherever inf rows aren't screened."""
    rng = np.random.default_rng(23)
    vecs = []
    for i in range(32):
        v = rng.normal(size=EMB_DIM)
        if i % 8 == 3:
            v[i % EMB_DIM] = np.inf
        if i % 8 == 5:
            v[i % EMB_DIM] = -np.inf
        vecs.append(v)
    return _emb_table(vecs, [i % 10 for i in range(32)])


def corpus_long_doc() -> pd.DataFrame:
    """One ~45KB document among normal ones: per-doc O(L·w) scans,
    shingle fan-out, and window truncation must stay correct (and not
    explode) on a pathological length outlier.  Sized so the DuckDB
    oracles' per-subscript string_split (quadratic in doc length —
    measured: ccnet oracle 445s at 18k words vs Spark 18s) keeps the
    sweep affordable; the ENGINE side is length-linear either way."""
    rng = np.random.default_rng(29)
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta"]
    long_text = " ".join(words[int(rng.integers(0, 8))] for _ in range(8000))
    rows = [(0, long_text, "en", "src0")]
    for i in range(1, 12):
        rows.append((i, f"short document number {i} with plain words", LANGS[i % 5], f"src{i % 4}"))
    return _docs_df(rows)


def corpus_empty() -> pa.Table:
    """ZERO documents — global aggregates over an empty frame, empty fit
    sets, empty spines: the single most divergence-prone input class
    (one engine emits a NULL aggregate row where the other emits zero
    rows, or int columns decay to float)."""
    return pa.table(
        {
            "doc_id": pa.array([], pa.int64()),
            "text": pa.array([], pa.string()),
            "lang": pa.array([], pa.string()),
            "source": pa.array([], pa.string()),
            "n_chars": pa.array([], pa.int64()),
        }
    )


def events_empty() -> pa.Table:
    """ZERO events — empty sessionization, funnels, windows, spines."""
    return pa.table(
        {
            "event_id": pa.array([], pa.int64()),
            "ts": pa.array([], pa.timestamp("us")),
            "user_id": pa.array([], pa.int64()),
            "event_type": pa.array([], pa.string()),
            "value": pa.array([], pa.float64()),
            "props": pa.array([], pa.string()),
        }
    )


def emb_empty() -> pa.Table:
    """ZERO vectors — every index trains/scans over nothing."""
    return _emb_table([], [])


# -- TPC-H-side corpora (lineitem / orders / customer / supplier / part) ------

_LI_COLS = [
    ("l_orderkey", "int64"), ("l_partkey", "int64"), ("l_suppkey", "int64"),
    ("l_linenumber", "int32"), ("l_quantity", "float64"),
    ("l_extendedprice", "float64"), ("l_discount", "float64"),
    ("l_tax", "float64"), ("l_returnflag", "object"), ("l_linestatus", "object"),
    ("l_shipdate", "datetime64[us]"),
]


def _li_df(rows: list[tuple]) -> pd.DataFrame:
    df = pd.DataFrame(rows, columns=[c for c, _ in _LI_COLS])
    for c, dt in _LI_COLS:
        df[c] = df[c].astype(dt)
    return df


def li_empty() -> pa.Table:
    """ZERO lineitems — Q1/Q6-shaped aggregates over nothing, ROLLUP/CUBE
    grand-total rows on empty joins.  Explicit arrow schema: an empty
    pandas object column would otherwise write a null-typed parquet
    column, which is a harness artifact, not an engine behavior."""
    return pa.table({
        "l_orderkey": pa.array([], pa.int64()),
        "l_partkey": pa.array([], pa.int64()),
        "l_suppkey": pa.array([], pa.int64()),
        "l_linenumber": pa.array([], pa.int32()),
        "l_quantity": pa.array([], pa.float64()),
        "l_extendedprice": pa.array([], pa.float64()),
        "l_discount": pa.array([], pa.float64()),
        "l_tax": pa.array([], pa.float64()),
        "l_returnflag": pa.array([], pa.string()),
        "l_linestatus": pa.array([], pa.string()),
        "l_shipdate": pa.array([], pa.timestamp("us")),
    })


def li_single() -> pd.DataFrame:
    """One lineitem, inside every predicate window — all group-bys at
    n=1, every join single-row."""
    return _li_df([(1, 0, 0, 1, 10.0, 1000.0, 0.06, 0.02, "N", "O",
                    pd.Timestamp("1996-06-01"))])


def li_one_order() -> pd.DataFrame:
    """Every lineitem belongs to ONE order: maximal group depth, the
    large-volume HAVING threshold crossed by a single key, total skew."""
    rows = []
    for i in range(40):
        rows.append((
            1, i % 7, i % 5, i + 1, 5.0 + (i % 3), 100.0 * (1 + i % 4),
            (i % 3) * 0.05, 0.04, "ANR"[i % 3], "OF"[i % 2],
            pd.Timestamp("1996-01-01") + pd.Timedelta(days=30 * (i % 24)),
        ))
    return _li_df(rows)


def li_orphans() -> pd.DataFrame:
    """Every l_orderkey missing from orders (referential break): all
    order joins drop to zero rows while lineitem-only aggregates still
    see the full table."""
    rows = [
        (1_000_000 + i, i % 7, i % 5, 1, float(1 + i % 24), 500.0 + i,
         0.05 + (i % 3) * 0.01, 0.0, "ANR"[i % 3], "OF"[i % 2],
         pd.Timestamp("1996-03-01") + pd.Timedelta(days=i))
        for i in range(30)
    ]
    return _li_df(rows)


def li_ties() -> pd.DataFrame:
    """Identical price/discount on every row across many orders: top-k
    revenue ties everywhere — both engines must break ties on the
    declared keys, not on physical row order."""
    rows = [
        (i % 30, i % 7, i % 5, 1 + i // 30, 4.0, 1000.0, 0.0, 0.0,
         "N", "O", pd.Timestamp("1998-06-01"))
        for i in range(60)
    ]
    return _li_df(rows)


_ORD_COLS = [
    ("o_orderkey", "int64"), ("o_custkey", "int64"), ("o_orderstatus", "object"),
    ("o_totalprice", "float64"), ("o_orderdate", "datetime64[us]"),
    ("o_orderpriority", "object"),
]


def _ord_df(rows: list[tuple]) -> pd.DataFrame:
    df = pd.DataFrame(rows, columns=[c for c, _ in _ORD_COLS])
    for c, dt in _ORD_COLS:
        df[c] = df[c].astype(dt)
    return df


def ord_empty() -> pa.Table:
    """ZERO orders — ROLLUP over empty input (the () grouping set must
    agree: one COUNT=0 row on both engines or zero rows on both)."""
    return pa.table({
        "o_orderkey": pa.array([], pa.int64()),
        "o_custkey": pa.array([], pa.int64()),
        "o_orderstatus": pa.array([], pa.string()),
        "o_totalprice": pa.array([], pa.float64()),
        "o_orderdate": pa.array([], pa.timestamp("us")),
        "o_orderpriority": pa.array([], pa.string()),
    })


def ord_same_day() -> pd.DataFrame:
    """All orders on one day, one status/priority, tied totalprice:
    date buckets collapse to a single group and per-customer spend ties
    everywhere (top_customers rank must fall to c_custkey)."""
    return _ord_df([
        (i, i % 150, "O", 5000.0, pd.Timestamp("1996-03-15"), "1-URGENT")
        for i in range(100)
    ])


def ord_no_lineitems() -> pd.DataFrame:
    """Every o_orderkey missing from lineitem: order-lineitem joins are
    empty while orders-only rollups still see the full table."""
    return _ord_df([
        (500_000 + i, i % 150, "POF"[i % 3], 100.0 * (1 + i % 9),
         pd.Timestamp("1995-06-01") + pd.Timedelta(days=2 * i),
         ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"][i % 5])
        for i in range(90)
    ])


_CUST_COLS = [
    ("c_custkey", "int64"), ("c_name", "object"), ("c_nationkey", "int32"),
    ("c_acctbal", "float64"), ("c_mktsegment", "object"),
]


def _cust_df(rows: list[tuple]) -> pd.DataFrame:
    df = pd.DataFrame(rows, columns=[c for c, _ in _CUST_COLS])
    for c, dt in _CUST_COLS:
        df[c] = df[c].astype(dt)
    return df


def cust_empty() -> pa.Table:
    """ZERO customers — customer joins empty, nation share over an empty
    (NULL) grand total."""
    return pa.table({
        "c_custkey": pa.array([], pa.int64()),
        "c_name": pa.array([], pa.string()),
        "c_nationkey": pa.array([], pa.int32()),
        "c_acctbal": pa.array([], pa.float64()),
        "c_mktsegment": pa.array([], pa.string()),
    })


def cust_one_nation_neg() -> pd.DataFrame:
    """One nation, ALL acctbals negative: the nation-share quotient runs
    on negative numerator AND denominator (floor vs truncate division
    sign semantics), and every customer passes the BUILDING segment."""
    return _cust_df([
        (i, f"Customer#{i:09d}", 3, -100.0 - (i % 5) * 25.0, "BUILDING")
        for i in range(40)
    ])


def supp_empty() -> pa.Table:
    """ZERO suppliers — quartiles over nothing."""
    return pa.table({
        "s_suppkey": pa.array([], pa.int64()),
        "s_name": pa.array([], pa.string()),
        "s_nationkey": pa.array([], pa.int32()),
        "s_acctbal": pa.array([], pa.float64()),
    })


def supp_uniform() -> pa.Table:
    """Every supplier with the SAME balance: all quartiles tie at one
    value — interpolation must agree exactly."""
    n = 25
    return pa.table({
        "s_suppkey": pa.array(range(n), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)], pa.string()),
        "s_nationkey": pa.array([i % 25 for i in range(n)], pa.int32()),
        "s_acctbal": pa.array([1234.56] * n, pa.float64()),
    })


def nation_dup_names() -> pa.Table:
    """25 nationkeys but only 5 DISTINCT n_name values: group-by-name
    aggregations must merge across keys identically on both engines,
    and per-nation top-k ranks span merged key sets."""
    return pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i % 5}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })


def nation_empty() -> pa.Table:
    """ZERO nations — every nation join (broadcast dim) drops to empty."""
    return pa.table({
        "n_nationkey": pa.array([], pa.int32()),
        "n_name": pa.array([], pa.string()),
        "n_regionkey": pa.array([], pa.int32()),
    })


def part_empty() -> pa.Table:
    """ZERO parts — correlated min-subquery over an empty table."""
    return pa.table({
        "p_partkey": pa.array([], pa.int64()),
        "p_name": pa.array([], pa.string()),
        "p_brand": pa.array([], pa.string()),
        "p_type": pa.array([], pa.string()),
        "p_size": pa.array([], pa.int32()),
        "p_retailprice": pa.array([], pa.float64()),
    })


CORPORA: dict[str, tuple[str, callable]] = {
    "degenerate": ("documents", corpus_degenerate),
    "identical": ("documents", corpus_identical),
    "unicode": ("documents", corpus_unicode),
    "no_fit": ("documents", corpus_no_fit),
    "single_doc": ("documents", corpus_single_doc),
    "nulls": ("documents", corpus_nulls),
    "long_doc": ("documents", corpus_long_doc),
    "ev_null_values": ("events", events_null_values),
    "ev_null_keys": ("events", events_null_keys),
    "ev_far_future": ("events", events_far_future),
    "emb_inf": ("embeddings", emb_inf),
    "ev_same_ts": ("events", events_same_ts),
    "ev_single_user": ("events", events_single_user),
    "ev_sparse_types": ("events", events_sparse_types),
    "ev_minimal": ("events", events_minimal),
    "empty": ("documents", corpus_empty),
    "ev_empty": ("events", events_empty),
    "emb_empty": ("embeddings", emb_empty),
    "emb_zero": ("embeddings", emb_zero),
    "emb_nulls": ("embeddings", emb_nulls),
    "emb_identical": ("embeddings", emb_identical),
    "emb_single": ("embeddings", emb_single),
    "emb_one_label": ("embeddings", emb_one_label),
    "li_empty": ("lineitem", li_empty),
    "li_single": ("lineitem", li_single),
    "li_one_order": ("lineitem", li_one_order),
    "li_orphans": ("lineitem", li_orphans),
    "li_ties": ("lineitem", li_ties),
    "ord_empty": ("orders", ord_empty),
    "ord_same_day": ("orders", ord_same_day),
    "ord_no_lineitems": ("orders", ord_no_lineitems),
    "cust_empty": ("customer", cust_empty),
    "cust_one_nation_neg": ("customer", cust_one_nation_neg),
    "supp_empty": ("supplier", supp_empty),
    "supp_uniform": ("supplier", supp_uniform),
    "part_empty": ("part", part_empty),
    "nation_dup_names": ("nation", nation_dup_names),
    "nation_empty": ("nation", nation_empty),
}


def build_sf_dir(tmp: str, table: str, frame) -> str:
    sf = os.path.join(tmp, "sf_fuzz")
    os.makedirs(sf, exist_ok=True)
    for t in TABLES:
        if t != table:
            os.symlink(f"{BASE_SF}/{t}.parquet", f"{sf}/{t}.parquet")
    if isinstance(frame, pa.Table):
        pq.write_table(frame, f"{sf}/{table}.parquet")
    else:
        frame.to_parquet(f"{sf}/{table}.parquet", index=False)
    return sf


# Documented cross-engine divergences on degenerate input: Spark
# fails-fast where a SQL oracle can only return rows.  An ERROR whose
# message matches the pattern counts as PASS when the oracle agrees the
# input is degenerate (returns zero rows).
EXPECTED_ERRORS: dict[str, str] = {
    # zvalue deliberately raises on empty/all-NULL z-order dims (r9
    # ADVICE; sources/layout.py) — clustering an empty measurement is a
    # caller bug, not a layout.
    "zorder_key": "no non-NULL values to quantize",
}


def table_queries(table: str) -> list[str]:
    import __spark_entry__ as entry_mod

    return [
        n
        for n, sql in entry_mod.oracle_sql().items()
        if re.search(rf"\b{table}\b", sql)
    ]


def main() -> int:
    if "--list" in sys.argv[1:]:
        print("\n".join(CORPORA))
        return 0
    only = sys.argv[1:] or list(CORPORA)
    unknown = [c for c in only if c not in CORPORA]
    if unknown:
        print(f"unknown corpora {unknown}; available: {' '.join(CORPORA)}")
        return 2
    import __spark_entry__ as entry_mod
    from simple_tsdb_spark import get_spark

    spark = get_spark("fuzz_corpus")
    n_pass = n_fail = n_err = 0
    failures: list[str] = []
    for cname in only:
        table, builder = CORPORA[cname]
        import time

        tmp = tempfile.mkdtemp(prefix=f"fuzz_{cname}_")
        sf = build_sf_dir(tmp, table, builder())
        # env BEFORE any oracle_sql() call (table_queries included):
        # data-dependent builders (knn_*_trained, auto_downsample) read
        # SPARK_GRAFT_ORACLE_SF, and the previous corpus dir is gone.
        os.environ["SPARK_GRAFT_ORACLE_SF"] = sf
        names = table_queries(table)
        print(f"== corpus {cname} ({table}, {len(names)} queries) ==")
        con = duck_con(sf)
        qs = entry_mod.queries()
        t0 = time.time()
        oracles = entry_mod.oracle_sql()  # re-built: data-dependent builders retrain
        print(f"  oracle_sql() built in {time.time() - t0:.1f}s", flush=True)
        for name in names:
            t0 = time.time()
            try:
                sdf = qs[name](spark, sf).toPandas()
                odf = con.sql(oracles[name]).df()
            except Exception as exc:  # engine crash on degenerate input
                msg = str(exc)
                if EXPECTED_ERRORS.get(name, "\x00") in msg and len(con.sql(oracles[name]).df()) == 0:
                    print(f"[{cname}/{name}] OK (documented fail-fast: {EXPECTED_ERRORS[name]!r})", flush=True)
                    n_pass += 1
                    continue
                print(f"[{cname}/{name}] ERROR {type(exc).__name__}: {msg.splitlines()[0][:140]}", flush=True)
                failures.append(f"{cname}/{name} (error)")
                n_err += 1
                continue
            if compare(f"{cname}/{name}", sdf, odf):
                n_pass += 1
                print(f"[{cname}/{name}] OK rows={len(sdf)} {time.time() - t0:.1f}s", flush=True)
            else:
                print(f"[{cname}/{name}] FAIL rows spark={len(sdf)} oracle={len(odf)}", flush=True)
                failures.append(f"{cname}/{name}")
                n_fail += 1
        con.close()
        shutil.rmtree(tmp, ignore_errors=True)
    print(f"== fuzz: {n_pass} pass, {n_fail} fail, {n_err} error ==")
    for f in failures:
        print(f"  - {f}")
    return 1 if (n_fail or n_err) else 0


if __name__ == "__main__":
    sys.exit(main())
