"""Property-based specs (hypothesis) for the sessionization core — the
invariants hold for EVERY input, not just fixtures:

1. session partition: events of one user ≤ gap apart are transitively in
   one session; a gap > threshold always splits;
2. id determinism: session_id is a pure function of (user, session-start);
3. row preservation: sessionize never drops, duplicates, or reorders data;
4. input-order independence: any permutation of the input rows yields the
   same assignment.
"""

from __future__ import annotations

from datetime import datetime, timedelta

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql.types import (
    LongType,
    StructField,
    StructType,
    TimestampType,
)

from commerce_sessionization_spark.operators.sessions import (
    _mint_id,
    _sweep,
    sessionize,
    sessionize_bucketed,
    sessionize_capped,
)

SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("ts", TimestampType()),
    ]
)

T0 = datetime(2024, 6, 1)
GAP = 600  # 10-minute gap keeps generated timelines interesting

# per-user list of inter-event gaps (seconds); values hug the threshold
gaps_strategy = st.lists(
    st.one_of(
        st.integers(min_value=1, max_value=2 * GAP),
        st.sampled_from([GAP - 1, GAP, GAP + 1]),
    ),
    min_size=1,
    max_size=12,
)
traffic_strategy = st.dictionaries(
    st.integers(min_value=1, max_value=4), gaps_strategy, min_size=1, max_size=4
)


def materialize(traffic: dict[int, list[int]]):
    rows, eid = [], 0
    for user, gaps in traffic.items():
        t = T0
        for g in gaps:
            t = t + timedelta(seconds=g)
            rows.append((eid, user, t))
            eid += 1
    return rows


def expected_partition(rows):
    """Reference implementation: plain python sweep per user."""
    out = {}
    by_user: dict[int, list] = {}
    for eid, user, t in sorted(rows, key=lambda r: (r[1], r[2], r[0])):
        by_user.setdefault(user, []).append((eid, t))
    for user, evs in by_user.items():
        start, last = None, None
        for eid, t in evs:
            if last is None or (t - last).total_seconds() > GAP:
                start = t
            last = t
            out[eid] = (user, start)
    return out


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(traffic=traffic_strategy, seed=st.integers(min_value=0, max_value=999))
def test_sessionize_properties(spark, traffic, seed):
    import random

    rows = materialize(traffic)
    shuffled = rows[:]
    random.Random(seed).shuffle(shuffled)

    df = spark.createDataFrame(shuffled, SCHEMA)
    got = sessionize(df, gap_seconds=GAP, order_cols=("event_id",)).collect()

    # 3: row preservation
    assert sorted(r.event_id for r in got) == sorted(r[0] for r in rows)

    # 1+2+4: assignment equals the reference sweep regardless of input order,
    # and ids group exactly by (user, session-start)
    exp = expected_partition(rows)
    by_key: dict[tuple, set] = {}
    for r in got:
        by_key.setdefault(exp[r.event_id], set()).add(r.session_id)
    ids_seen = {}
    for key, ids in by_key.items():
        assert len(ids) == 1, f"session {key} got multiple ids: {ids}"
        (sid,) = ids
        assert sid not in ids_seen or ids_seen[sid] == key, "id collision"
        ids_seen[sid] = key

    # differential: the bucketed (1-hour buckets, so sessions cross them) and
    # the uncapped pandas paths give every event the same id as sessionize,
    # hence the same partition as the reference sweep
    want = {r.event_id: r.session_id for r in got}
    for other in (
        sessionize_bucketed(
            df, gap_seconds=GAP, bucket_hours=1, order_cols=("event_id",)
        ),
        sessionize_capped(
            df, gap_seconds=GAP, cap_seconds=None, order_cols=("event_id",)
        ),
    ):
        assert {r.event_id: r.session_id for r in other.collect()} == want


def _epoch_us(t: datetime) -> int:
    return int((t - datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _user_timelines(traffic):
    """user → (event ids, µs timestamps), each user's events in time order."""
    out: dict[int, tuple[list, list]] = {}
    for eid, user, t in materialize(traffic):
        eids, ts = out.setdefault(user, ([], []))
        eids.append(eid)
        ts.append(_epoch_us(t))
    return out


@settings(max_examples=200, deadline=None)
@given(
    traffic=traffic_strategy,
    cuts=st.sets(st.integers(min_value=1, max_value=11), max_size=5),
)
def test_sweep_resumes_across_micro_batches(traffic, cuts):
    """The shared per-user sweep, fed one user's timeline in micro-batches
    with the (start, last) state carried between them — the streaming state
    function's loop — mints every event the id of its reference session
    start, wherever the batches are cut."""
    exp = expected_partition(materialize(traffic))
    for user, (eids, ts) in _user_timelines(traffic).items():
        bounds = [0, *sorted(c for c in cuts if c < len(ts)), len(ts)]
        state, ids = None, []
        for lo, hi in zip(bounds, bounds[1:]):
            starts, state = _sweep(ts[lo:hi], GAP * 1_000_000, state=state)
            ids += [_mint_id(user, s) for s in starts]
        assert ids == [_mint_id(user, _epoch_us(exp[e][1])) for e in eids]
        assert state == (_epoch_us(exp[eids[-1]][1]), ts[-1])


@settings(max_examples=200, deadline=None)
@given(traffic=traffic_strategy, cap=st.integers(min_value=1, max_value=3 * GAP))
def test_sweep_cap_bounds_every_session(traffic, cap):
    """With a cap, the sweep still splits at every gap > GAP, keeps each
    session within ``cap`` of its start, and opens a session only where the
    gap or the cap forces one."""
    gap_us, cap_us = GAP * 1_000_000, cap * 1_000_000
    for _, ts in _user_timelines(traffic).values():
        starts, _ = _sweep(ts, gap_us, cap_us)
        assert starts[0] == ts[0]
        for i in range(1, len(ts)):
            forced = ts[i] - ts[i - 1] > gap_us or ts[i] - starts[i - 1] > cap_us
            assert (starts[i] == ts[i]) == forced
            assert ts[i] - starts[i] <= cap_us


# --------------------------------------------------------------------------
# Rollup merge law: merge(rollup(A), rollup(B)) == rollup(A ∪ B) for EVERY
# event multiset and EVERY 2-way split — the invariant incremental
# maintenance (batch merge + streaming MVCC maintainer) rests on.
# --------------------------------------------------------------------------

events_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3 * 3600),     # offset seconds
        st.sampled_from(["view", "cart", "purchase"]),
        # two-decimal money values keep the DECIMAL(18,2) cast lossless
        st.integers(min_value=-10_000, max_value=10_000),
    ),
    min_size=1,
    max_size=30,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(events=events_strategy, cut=st.integers(min_value=0, max_value=30))
def test_rollup_merge_law(spark, events, cut):
    from commerce_sessionization_spark.operators.rollup import (
        merge_rollups,
        time_bucket_rollup,
    )
    from pyspark.sql.types import (
        DoubleType, StringType, StructField, StructType, TimestampType,
    )

    schema = StructType([
        StructField("ts", TimestampType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ])
    rows = [
        (T0 + timedelta(seconds=off), et, cents / 100.0)
        for off, et, cents in events
    ]
    cut = min(cut, len(rows))
    keys = ("event_type",)

    def canon(df):
        return sorted(
            (str(r["bucket_ts"]), r["event_type"], r["cnt"], str(r["sum_value"]),
             r["min_value"], r["max_value"])
            for r in df.collect()
        )

    direct = time_bucket_rollup(spark.createDataFrame(rows, schema), keys=keys)
    a = time_bucket_rollup(spark.createDataFrame(rows[:cut], schema) if cut
                           else spark.createDataFrame([], schema), keys=keys)
    b = time_bucket_rollup(
        spark.createDataFrame(rows[cut:], schema) if cut < len(rows)
        else spark.createDataFrame([], schema), keys=keys)
    assert canon(merge_rollups(a, b, keys=keys)) == canon(direct)


# --------------------------------------------------------------------------
# CDC fold law: for EVERY change multiset and EVERY 2-way epoch split —
# including splits that deliver changes out of sequence order — folding
# epoch-by-epoch equals collapsing everything at once. This is the
# invariant the streaming tombstone state (streaming/cdc_stream.py)
# rests on: arrival order must never matter, only the seq total order.
# --------------------------------------------------------------------------

changes_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=4),    # key
        st.integers(min_value=0, max_value=20),   # seq
        st.integers(min_value=0, max_value=99),   # payload
        st.booleans(),                            # deleted
    ),
    min_size=1,
    max_size=24,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(changes=changes_strategy, cut=st.integers(min_value=0, max_value=24))
def test_cdc_fold_order_independence(spark, changes, cut):
    from pyspark.sql.types import (
        BooleanType, IntegerType, StructField, StructType,
    )

    from commerce_sessionization_spark.operators.merge import collapse_batch

    schema = StructType(
        [
            StructField("k", IntegerType()),
            StructField("seq", IntegerType()),
            StructField("payload", IntegerType()),
            StructField("_deleted", BooleanType()),
        ]
    )
    # uid tiebreak makes equal-(key, seq) conflicts deterministic, the
    # same contract collapse_batch documents for real CDC streams
    rows = [
        (k, seq, payload, deleted, uid)
        for uid, (k, seq, payload, deleted) in enumerate(changes)
    ]
    schema = schema.add("uid", IntegerType())
    cut = min(cut, len(rows))

    def fold(parts):
        state = None
        for p in parts:
            if not p:
                continue
            batch = collapse_batch(
                spark.createDataFrame(p, schema), ["k"], "seq", tiebreak=["uid"]
            )
            state = batch if state is None else collapse_batch(
                state.unionByName(batch), ["k"], "seq", tiebreak=["uid"]
            )
        return set() if state is None else {tuple(r) for r in state.collect()}

    whole = fold([rows])
    split = fold([rows[:cut], rows[cut:]])
    # adversarial arrival: later seqs delivered first
    reversed_arrival = fold([rows[cut:], rows[:cut]])
    assert whole == split == reversed_arrival


# ---------------------------------------------------------------------------
# Property: bloom-pruned join == plain join for ANY key sets
# ---------------------------------------------------------------------------

@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    left_keys=st.lists(st.integers(min_value=-50, max_value=50), max_size=60),
    right_keys=st.lists(st.integers(min_value=-50, max_value=50), max_size=20),
)
def test_bloom_filtered_join_equivalence_property(spark, left_keys, right_keys):
    from pyspark.sql import Row

    from commerce_sessionization_spark.operators.joins import bloom_filtered_join

    left = spark.createDataFrame(
        [Row(k=k, v=i) for i, k in enumerate(left_keys)] or [Row(k=999, v=0)]
    )
    right = spark.createDataFrame(
        [Row(k=k, w=i) for i, k in enumerate(right_keys)] or [Row(k=998, w=0)]
    )
    got = sorted(map(tuple, bloom_filtered_join(left, right, "k").collect()))
    want = sorted(map(tuple, left.join(right, "k", "inner").collect()))
    assert got == want


# ---------------------------------------------------------------------------
# Property: global_rank == single-partition window rank for ANY total order
# ---------------------------------------------------------------------------

@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    values=st.lists(
        st.integers(min_value=0, max_value=9), min_size=1, max_size=80
    ),
    parts=st.integers(min_value=1, max_value=7),
)
def test_global_rank_matches_window_property(spark, values, parts):
    from pyspark.sql import Row, Window
    from pyspark.sql import functions as F

    from commerce_sessionization_spark.operators.layout import global_rank

    df = spark.createDataFrame(
        [Row(id=i, b=v) for i, v in enumerate(values)]
    )
    got = {
        r.id: r.rank
        for r in global_rank(df, order_cols=("b", "id"), num_partitions=parts).collect()
    }
    want = {
        r.id: r.rank
        for r in df.withColumn(
            "rank", F.row_number().over(Window.orderBy("b", "id"))
        ).collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# URL canonicalization: idempotence over generated URL-ish strings


_url_strategy = st.builds(
    lambda scheme, host, port, path, params, frag: (
        scheme
        + "://"
        + host
        + port
        + path
        + ("?" + "&".join(params) if params else "")
        + frag
    ),
    scheme=st.sampled_from(["http", "HTTP", "https", "HTTPS", "ftp"]),
    host=st.from_regex(r"[A-Za-z][A-Za-z0-9.-]{0,20}\.[a-z]{2,4}", fullmatch=True),
    port=st.sampled_from(["", ":80", ":443", ":8080"]),
    path=st.from_regex(r"(/[A-Za-z0-9._~-]{0,10}){0,4}/?", fullmatch=True),
    params=st.lists(
        st.from_regex(
            r"(utm_[a-z]{1,6}|gclid|ref|[a-z]{1,5})(=[A-Za-z0-9]{0,6})?",
            fullmatch=True,
        ),
        max_size=4,
    ),
    frag=st.sampled_from(["", "#top", "#a-b"]),
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(urls=st.lists(_url_strategy, min_size=1, max_size=25, unique=True))
def test_canonical_url_idempotent_property(spark, urls):
    """canonical(canonical(u)) == canonical(u) for arbitrary URL shapes —
    the property that makes the canonical form usable as a dedup key
    across repeated normalization passes."""
    from pyspark.sql import functions as F

    from commerce_sessionization_spark.operators.urls import canonical_url

    df = spark.createDataFrame([(u,) for u in urls], ["url"])
    once = df.select(canonical_url(F.col("url")).alias("c"))
    twice = once.select(canonical_url(F.col("c")).alias("c"))
    assert sorted(r["c"] for r in once.collect()) == sorted(
        r["c"] for r in twice.collect()
    )


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    sentences=st.lists(
        st.from_regex(r"[A-Za-z][A-Za-z ]{0,40}[.!?]", fullmatch=True),
        min_size=1,
        max_size=20,
    ),
    max_chars=st.sampled_from([40, 120, 400]),
)
def test_sentence_chunks_cover_everything_in_order_property(
    spark, sentences, max_chars
):
    """Every word of the document appears exactly once, in order, across
    the chunks — chunking must never drop, duplicate, or reorder text,
    at any budget."""
    from commerce_sessionization_spark.operators.chunking import (
        chunk_by_sentences,
    )

    text = " ".join(sentences)
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    out = chunk_by_sentences(df, max_chars=max_chars).orderBy("chunk_id")
    chunks = [r["chunk_text"] for r in out.collect()]
    assert " ".join(chunks).split() == text.split()
    # ids are contiguous from zero (downstream packers index by them)
    ids = [r["chunk_id"] for r in out.collect()]
    assert ids == list(range(len(ids)))


# ---------------------------------------------------------------------------
# crawl_frontier: the Spark result equals an independent pure-Python
# model of the spec for EVERY candidate multiset and k
# ---------------------------------------------------------------------------

frontier_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),    # host index
        st.integers(min_value=0, max_value=30),   # target path index
        st.integers(min_value=0, max_value=200),  # referrer index
    ),
    min_size=1,
    max_size=120,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(rows=frontier_rows, k=st.integers(1, 4))
def test_frontier_matches_pure_python_model(spark, rows, k):
    """The frontier spec, re-implemented in ~10 lines of plain Python
    (distinct-referrer counts, fetched exclusion, per-host top-k with
    the (score desc, url asc) total order), must agree with the Spark
    operator for any link multiset — independent of partitioning and
    of whatever plan (WindowGroupLimit etc.) Catalyst picks."""
    from commerce_sessionization_spark.operators.crawl import crawl_frontier

    links = [
        (
            f"https://ref{r}.example.org/p",
            f"https://h{h}.example.org/doc/{t}",
        )
        for h, t, r in rows
    ]
    fetched_url = "https://h0.example.org/doc/0"

    refs: dict[str, set] = {}
    for src, dst in links:
        if dst != fetched_url:
            refs.setdefault(dst, set()).add(src)
    by_host: dict[str, list] = {}
    for url, srcs in refs.items():
        host = url.split("//")[1].split("/")[0]
        by_host.setdefault(host, []).append((-len(srcs), url))
    want = set()
    for host, cands in by_host.items():
        for rank, (neg, url) in enumerate(sorted(cands)[:k], start=1):
            want.add((url, host, -neg, rank))

    got = set(
        map(
            tuple,
            crawl_frontier(
                spark.createDataFrame(links, "src string, dst string"),
                spark.createDataFrame([(fetched_url,)], "url string"),
                per_host_k=k,
            ).collect(),
        )
    )
    assert got == want


# ---------------------------------------------------------------------------
# Prefix-filtered exact Jaccard == exhaustive join, for EVERY corpus
# ---------------------------------------------------------------------------

# small vocabulary forces heavy shingle sharing (the regime where prefix
# filtering could plausibly lose pairs if the length filter or the
# global ordering were wrong)
_vocab = st.sampled_from(
    ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
)
_doc_strategy = st.lists(_vocab, min_size=1, max_size=12).map(" ".join)
_corpus_strategy = st.lists(_doc_strategy, min_size=2, max_size=8)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(texts=_corpus_strategy, threshold=st.sampled_from([0.3, 0.6, 0.9]))
def test_prefix_jaccard_equals_exhaustive_for_every_corpus(
    spark, texts, threshold
):
    from commerce_sessionization_spark.operators.dedup import (
        ngram_jaccard_pairs,
        prefix_jaccard_pairs,
    )

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    exact = {
        (r.a, r.b, r.jaccard)
        for r in ngram_jaccard_pairs(df, n=3, threshold=threshold).collect()
    }
    pf = {
        (r.a, r.b, r.jaccard)
        for r in prefix_jaccard_pairs(df, n=3, threshold=threshold).collect()
    }
    assert pf == exact
