"""Cleaning kernel: dirty fixtures through the Arrow kernel and its DuckDB
mirror (reference test analog: ``data/scripts/test_pipeline.py:17-43`` —
LaTeX content survives, HTML stripped, no double spaces)."""

import pandas as pd

from kg.cleaning import clean_text_pandas, sql_clean_text

DIRTY = [
    r"\textbf{Table} scan of $n^2$ rows",
    "<b>fast</b> query &amp; merge <i>sort</i>",
    "see https://example.com/x and mail a@b.com now",
    "“curly” ‘quotes’ – dash … end",
    "  doubled   spaces\tand\nnewlines  ",
    r"\alpha \beta $x+y$ $$",
    "plain already clean text",
    "",
]


def _expected():
    return [
        "table scan of n 2 rows",
        'fast query & merge sort',
        "see and mail now",
        "\"curly\" 'quotes' - dash . end",
        "doubled spaces and newlines",
        "x+y",
        "plain already clean text",
        "",
    ]


def test_pandas_chain():
    got_pd = clean_text_pandas(pd.Series(DIRTY)).tolist()
    assert got_pd == _expected()


def test_sql_chain_matches(duck):
    vals = ", ".join("(" + "'" + s.replace("'", "''") + "'" + ")" for s in DIRTY)
    q = f"SELECT {sql_clean_text('t')} AS c FROM (VALUES {vals}) v(t)"
    got = [r[0] for r in duck.sql(q).fetchall()]
    assert got == _expected()


ACCENTED = [
    "Café crème & naïve façade",         # Latin-1 accents + entity-free &
    "Łukasz vs Ødegaard, smörgåsbord",   # Ł/Ø unmapped (pass through), ö/å fold
    "Ĉu ĝi estas ŝĉo? — ŭōūũ",           # Latin Extended-A
    "&quot;Zoë&quot; &amp; Chloé",       # entities + accents together
    "ÀÉÎÕÜ àéîõü ĀĒĪŌŪ āēīōū",
]


def test_three_way_equality_on_accented_input(duck):
    """The kernel and DuckDB cleaning agree on non-ASCII input — the NFKD
    asymmetry regression test (accents fold via one shared fixed
    translate table in both)."""
    pandas_ = clean_text_pandas(pd.Series(ACCENTED)).tolist()
    vals = ", ".join("('" + s.replace("'", "''") + "')" for s in ACCENTED)
    q = f"SELECT {sql_clean_text('t')} AS c FROM (VALUES {vals}) v(t)"
    sql = [r[0] for r in duck.sql(q).fetchall()]
    assert pandas_ == sql
    # and the fold actually happened (not a vacuous pass-through)
    assert pandas_[0] == 'cafe creme & naive facade'
    assert "ł" in pandas_[1] and "ø" in pandas_[1]  # unmapped chars preserved


def test_dirt_templates_clean_back_to_pristine(duck):
    """Every planted-dirt template (kg.synth) must (a) actually change the
    text and (b) clean back to EXACTLY the pristine chunk through the
    kernel and through DuckDB — this is the invariant that lets
    downstream extraction oracles build on the pristine span derivation
    while the kernel runs dirty -> clean -> extract."""
    from kg.synth import DIRT_EVERY, N_DIRT_TEMPLATES, plant_dirt_py, sql_dirt

    chunk = "table scan merge part window small"
    cases = []  # one dirty string per template
    s = 1
    while len({(x // DIRT_EVERY) % N_DIRT_TEMPLATES for x, _ in cases}) < N_DIRT_TEMPLATES:
        if s % DIRT_EVERY == 1:
            cases.append((s, plant_dirt_py(s, 0, chunk)))
        s += 1
    assert len(cases) >= N_DIRT_TEMPLATES
    dirty = [d for _, d in cases]
    assert all(d != chunk for d in dirty)
    # pandas path
    assert clean_text_pandas(pd.Series(dirty)).tolist() == [chunk] * len(dirty)
    # DuckDB path: dirt generated AND cleaned in SQL
    for s, d in cases:
        q = "'" + chunk + "'"
        gen = duck.sql("SELECT " + sql_dirt(q, str(s))).fetchone()[0]
        assert gen == d
        cleaned = duck.sql(
            "SELECT " + sql_clean_text(sql_dirt(q, str(s)))
        ).fetchone()[0]
        assert cleaned == chunk


def test_idempotent_on_clean_corpus():
    """On the synthetic corpus, cleaning must be identity (oracle contract)."""
    text = pd.read_parquet(
        "/root/testdata/sf0.001/documents.parquet", columns=["text"]
    )["text"]
    changed = clean_text_pandas(text) != text.str.strip(" ")
    assert not changed.any()
