"""Property-based tests (hypothesis) — an upgrade over the reference's
hand-rolled assertion scripts (SURVEY §5). Examples are generated up
front and pushed through Spark in ONE batch per property, so each
property costs one job, not one per example."""

import string

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from kg.cleaning import clean_text_pandas, sql_clean_text
from kg.fused import clean_extract
from kg.vocab import DEFAULT_PRED, ENTITY_SURFACES, PREDICATES

# text with the artifact classes the kernel cleans
_dirty = st.text(
    alphabet=string.ascii_letters + string.digits + " .$\\{}<>&_^#@/:-'\"",
    max_size=120,
)


def test_pandas_clean_is_idempotent():
    @given(st.lists(_dirty, min_size=1, max_size=200))
    @settings(max_examples=30, deadline=None)
    def prop(texts):
        once = clean_text_pandas(pd.Series(texts)).tolist()
        twice = clean_text_pandas(pd.Series(once)).tolist()
        assert once == twice

    prop()


def test_clean_output_has_no_double_spaces_or_tags():
    @given(st.lists(_dirty, min_size=1, max_size=200))
    @settings(max_examples=30, deadline=None)
    def prop(texts):
        out = clean_text_pandas(pd.Series(texts)).tolist()
        for o in out:
            assert "  " not in o
            assert o == o.strip().lower()

    prop()


def test_spark_and_pandas_cleaning_agree():
    """The kernel's cleaning against its DuckDB mirror (the oracles'
    cleaning) in one batched comparison over many hypothesis examples."""
    import duckdb

    examples = []

    @given(st.lists(_dirty, min_size=1, max_size=50))
    @settings(max_examples=20, deadline=None)
    def collect(texts):
        examples.extend(texts)

    collect()
    got_pd = clean_text_pandas(pd.Series(examples)).tolist()
    con = duckdb.connect()
    con.register("ex", pd.DataFrame({"i": range(len(examples)), "t": examples}))
    got_sql = [
        r[0] for r in con.sql(f"SELECT {sql_clean_text('t')} FROM ex ORDER BY i").fetchall()
    ]
    assert got_pd == got_sql


_tokens = st.lists(
    st.sampled_from(
        ENTITY_SURFACES + PREDICATES + ["the", "a", "fast", "slow", "zzz"]
    ),
    max_size=20,
)


def test_sessionization_invariants(spark):
    """Generated event streams: sessions partition the events exactly,
    intra-session consecutive gaps are <= 30 min and a new session only
    starts after a > 30 min gap (checked against a pure-Python fold)."""
    import datetime as dt

    from kg.ops.relational import SESSION_GAP_US, sessionize_df

    gaps = st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),  # user id
            st.integers(min_value=0, max_value=90 * 60 * 1_000_000),  # gap µs
        ),
        min_size=1,
        max_size=120,
    )

    @given(gaps)
    @settings(max_examples=20, deadline=None)
    def prop(pairs):
        base = dt.datetime(2024, 1, 1)
        clock = {u: base for u in {p[0] for p in pairs}}
        rows = []
        for i, (u, gap) in enumerate(pairs):
            clock[u] = clock[u] + dt.timedelta(microseconds=gap)
            rows.append((i, clock[u], u, float(i)))
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp_ntz, user_id long, value double"
        )
        got = sessionize_df(df).collect()
        # python reference fold
        want: dict[tuple[int, int], int] = {}
        for u in {r[2] for r in rows}:
            evs = sorted((r[1], r[0]) for r in rows if r[2] == u)
            seq, prev = 0, None
            for ts, _eid in evs:
                if prev is None or (ts - prev) > dt.timedelta(
                    microseconds=SESSION_GAP_US
                ):
                    seq += 1
                want[(u, seq)] = want.get((u, seq), 0) + 1
                prev = ts
        got_counts = {(r.user_id, r.session_seq): r.n_events for r in got}
        assert got_counts == want
        assert sum(got_counts.values()) == len(rows)

    prop()


def test_extraction_invariants():
    @given(st.lists(_tokens, min_size=1, max_size=50))
    @settings(max_examples=50, deadline=None)
    def prop(spans):
        texts = [" ".join(t) for t in spans]
        n = len(texts)
        out = clean_extract(
            pd.DataFrame(
                {
                    "doc_id": [f"d{i}" for i in range(n)],
                    "kind": ["text"] * n,
                    "text": texts,
                    "media_ref": [""] * n,
                    "offset": list(range(n)),
                }
            )
        )
        ents = set(ENTITY_SURFACES)
        preds = set(PREDICATES) | {DEFAULT_PRED}
        for _, r in out.iterrows():
            toks = [w for w in texts[r["offset"]].split(" ") if w]
            # subject/object are dictionary mentions at their positions
            assert r["subj_surface"] in ents and r["obj_surface"] in ents
            assert toks[r["subj_pos"]] == r["subj_surface"]
            assert toks[r["obj_pos"]] == r["obj_surface"]
            assert r["subj_pos"] < r["obj_pos"]
            assert r["pred"] in preds
            # consecutive mentions: nothing between them is an entity
            for q in range(r["subj_pos"] + 1, r["obj_pos"]):
                assert toks[q] not in ents
        # triple count = max(0, mentions-1) per span
        for i, t in enumerate(spans):
            n_m = sum(1 for w in t if w in ents)
            assert len(out[out["offset"] == i]) == max(0, n_m - 1)

    prop()


@given(
    st.lists(
        st.floats(
            min_value=-1, max_value=1, allow_nan=False, allow_infinity=False
        ),
        min_size=2,
        max_size=10,
    ),
    st.integers(min_value=1, max_value=40),
)
@settings(max_examples=200, deadline=None)
def test_probe_bucket_sequence_properties(qv, n_probes):
    """Multi-probe LSH probe sequence (driver-side, pure): starts at the
    query's own bucket, never repeats a bucket, caps at 2^bits, and
    enumerates flip-sets in nondecreasing total-|margin| order (the
    query-directed guarantee that makes early probes the likeliest)."""
    from kg.ops.simsearch import _probe_buckets

    bits = len(qv)
    seq = _probe_buckets(qv, bits, n_probes)
    qbucket = sum((1 << i) for i in range(bits) if qv[i] >= 0)
    assert seq[0] == qbucket
    assert len(seq) == len(set(seq)) == min(n_probes, 1 << bits)
    assert all(0 <= b < (1 << bits) for b in seq)

    def flip_cost(b):
        diff = b ^ qbucket
        return sum(abs(qv[i]) for i in range(bits) if diff & (1 << i))

    costs = [flip_cost(b) for b in seq[1:]]
    for a, b in zip(costs, costs[1:]):
        assert a <= b + 1e-12


def test_recursive_cte_rate_limit_matches_reference_on_random_streams():
    """The stateful-limiter oracle (kg/ops/ratelimit.py::
    stateful_admission_sql — a recursive CTE carrying the admitted-
    timestamp window as list state) replays the reference algorithm for
    ARBITRARY event streams, not just the sandbox corpus: random
    timestamps (dense ties included), random client counts, windows
    crossing each other. Pure DuckDB-vs-Python — no Spark job."""
    import duckdb

    from kg.ops import ratelimit as RL

    events = st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=6),          # user_id
            st.integers(min_value=0, max_value=4 * RL._WINDOW_US),
        ),
        min_size=1,
        max_size=120,
    )

    @given(events)
    @settings(max_examples=25, deadline=None)
    def prop(rows):
        table = [(i + 1, uid, tus) for i, (uid, tus) in enumerate(rows)]
        con = duckdb.connect()
        con.execute(
            "CREATE TABLE events AS "
            "SELECT event_id, user_id, make_timestamp(tus) AS ts "
            "FROM (SELECT * FROM (VALUES "
            + ",".join(f"({e},{u},{t})" for e, u, t in table)
            + ") t(event_id, user_id, tus))"
        )
        got = {
            r[0]: r[2]
            for r in con.execute(RL.stateful_admission_sql()).fetchall()
        }
        want = {}
        by_uid = {}
        for e, u, t in sorted(table, key=lambda r: (r[1], r[2], r[0])):
            by_uid.setdefault(u, []).append((e, t))
        for u, seq in by_uid.items():
            for (e, _), adm in zip(seq, RL.simulate_reference(seq)):
                want[e] = adm
        assert got == want

    prop()
