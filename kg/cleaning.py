"""Text-normalization kernel (reference: ``data/scripts/text_cleaner.py``).

Re-expresses the reference's ordered cleaning chain
(html -> latex -> urls -> unicode -> whitespace, ``text_cleaner.py:84-127``)
as :func:`clean_text_pandas`, an Arrow-vectorized kernel — the
"arbitrary Python per batch" slot the reference fills with
``data_processor_optimized.py:42-145``. It is the engine's one cleaning
implementation (kg.fused.clean_extract and kg.normalize run it);
:func:`sql_clean_text` is its DuckDB mirror for the oracles, built from
the same step tables.

Order matters (the reference applies fixed order; SURVEY §2.3 T6) — both
apply the exact same order. tests/test_cleaning.py pins the two against
hand-written expected strings and against each other.
"""

from __future__ import annotations

import pandas as pd

# 7-char unicode punctuation map (reference analog: text_cleaner.py:32-40).
_UNICODE_SRC = "\u2018\u2019\u201c\u201d\u2013\u2014\u2026"
_UNICODE_DST = "''\"\"--."

# Fixed accent-fold map: every Latin-1-supplement / Latin-Extended-A char
# whose NFKD decomposition is one ASCII letter + combining marks. This is
# the NFKD-equivalent fold for the mapped char class, expressed as a
# translate() so the kernel and the DuckDB oracle apply the exact same
# transformation (open-ended NFKD in one engine only diverges on
# accented text).
# Chars with no single-ASCII decomposition (\u00f8, \u00e6, \u00df, \u0111, \u2026) pass through
# unchanged in every path (documented input-class boundary).
_ACCENT_SRC = (
    "\u00c0\u00c1\u00c2\u00c3\u00c4\u00c5\u00c7\u00c8\u00c9\u00ca\u00cb\u00cc\u00cd\u00ce\u00cf\u00d1\u00d2\u00d3\u00d4\u00d5\u00d6\u00d9\u00da\u00db\u00dc\u00dd\u00e0\u00e1\u00e2\u00e3\u00e4\u00e5\u00e7\u00e8\u00e9\u00ea\u00eb\u00ec\u00ed\u00ee\u00ef\u00f1\u00f2\u00f3\u00f4\u00f5\u00f6\u00f9\u00fa\u00fb\u00fc\u00fd\u00ff"
    "\u0100\u0101\u0102\u0103\u0104\u0105\u0106\u0107\u0108\u0109\u010a\u010b\u010c\u010d\u010e\u010f\u0112\u0113\u0114\u0115\u0116\u0117\u0118\u0119\u011a\u011b\u011c\u011d\u011e\u011f\u0120\u0121\u0122\u0123\u0124\u0125\u0128\u0129\u012a\u012b\u012c\u012d\u012e\u012f\u0130\u0134\u0135\u0136\u0137\u0139\u013a\u013b\u013c\u013d\u013e"
    "\u0143\u0144\u0145\u0146\u0147\u0148\u014c\u014d\u014e\u014f\u0150\u0151\u0154\u0155\u0156\u0157\u0158\u0159\u015a\u015b\u015c\u015d\u015e\u015f\u0160\u0161\u0162\u0163\u0164\u0165\u0168\u0169\u016a\u016b\u016c\u016d\u016e\u016f\u0170\u0171\u0172\u0173\u0174\u0175\u0176\u0177\u0178\u0179\u017a\u017b\u017c\u017d\u017e\u017f"
)
_ACCENT_DST = (
    "AAAAAACEEEEIIIINOOOOOUUUUYaaaaaaceeeeiiiinooooouuuuyy"
    "AaAaAaCcCcCcCcDdEeEeEeEeEeGgGgGgGgHhIiIiIiIiIJjKkLlLlLl"
    "NnNnNnOoOoOoRrRrRrSsSsSsSsTtTtUuUuUuUuUuUuWwYyYZzZzZzs"
)
assert len(_ACCENT_SRC) == len(_ACCENT_DST)

_HTML_ENTITIES = [
    ("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">"),
    ("&quot;", '"'), ("&#39;", "'"), ("&nbsp;", " "),
]

# (pattern, replacement) — applied in order. Latex: keep \cmd{arg} content,
# unwrap $math$, drop stray $ THEN bare \cmd, break \\ and sub/superscripts.
# Order constraint (idempotence, found by hypothesis): stray-$ removal must
# run BEFORE bare-\cmd removal — the other way round, '\$A' loses its $
# AFTER the \cmd pass already ran, manufacturing a fresh '\A' command that
# only a second pass would strip (clean(clean(x)) != clean(x)).
_LATEX_STEPS = [
    (r"\\[a-zA-Z]+\{([^}]*)\}", r"$1"),
    (r"\$([^$]*)\$", r"$1"),
    (r"\$+", ""),
    (r"\\[a-zA-Z]+", ""),
    (r"\\\\", " "),
    (r"[_^]", " "),
]
_URL_STEPS = [
    (r"https?://\S+", " "),
    (r"\S+@\S+\.\S+", " "),
]

_UNI_TABLE = str.maketrans(
    _UNICODE_SRC + _ACCENT_SRC, _UNICODE_DST + _ACCENT_DST
)

# RE2 rewrite strings use \1 backrefs like Python's re
_RE2_LATEX = [(p, r.replace("$1", "\\1")) for p, r in _LATEX_STEPS]
# one RE2 char class matching any translate-table source char — rows
# without a hit skip the per-row Python translate entirely (none of the
# chars is an RE2 class metacharacter)
_TRANS_CLASS = "[" + _UNICODE_SRC + _ACCENT_SRC + "]"


def clean_text_pandas(s: pd.Series) -> pd.Series:
    """The cleaning chain over one batch of strings: a fixed entity list and
    a fixed accent-fold table (open-ended html.unescape + NFKD would
    diverge from the DuckDB mirror on entity-rich or accented text).

    The regex chain runs through pyarrow.compute (RE2, vectorized C)
    instead of pandas object-dtype ``str.replace`` (one Python
    ``re.sub`` call per row per step — profiled at ~50% of the whole
    fused kernel; guide §4.2, hand whole batches to vectorized native
    libraries). RE2 vs Python-re semantics are identical for this fixed
    pattern set (no backrefs in patterns, ASCII classes; the DuckDB
    oracle already runs these same patterns under RE2). The only
    non-regex step, the fixed unicode/accent fold, stays Python
    ``str.translate`` but only over the rows an RE2 scan says contain a
    mapped char (~5% of spans) — byte-identical to folding every row."""
    import pyarrow as pa
    import pyarrow.compute as pc

    arr = pa.array(s.astype(object), type=pa.string(), from_pandas=True)
    arr = pc.replace_substring_regex(arr, pattern=r"<[^>]+>", replacement=" ")
    for src, dst in _HTML_ENTITIES:
        arr = pc.replace_substring(arr, pattern=src, replacement=dst)
    for pat, rep in _RE2_LATEX:
        arr = pc.replace_substring_regex(arr, pattern=pat, replacement=rep)
    for pat, rep in _URL_STEPS:
        arr = pc.replace_substring_regex(arr, pattern=pat, replacement=rep)
    # fixed-table fold, applied only where a source char is present
    mask = pc.match_substring_regex(arr, _TRANS_CLASS)
    if pc.any(mask).as_py():
        py = arr.to_pylist()
        m = mask.to_pylist()
        arr = pa.array(
            [
                t.translate(_UNI_TABLE) if (hit and t is not None) else t
                for t, hit in zip(py, m)
            ],
            type=pa.string(),
        )
    arr = pc.replace_substring_regex(arr, pattern=r"\s+", replacement=" ")
    arr = pc.utf8_lower(pc.utf8_trim_whitespace(arr))
    out = arr.to_pandas()
    out.index = s.index
    return out


# SQL mirror for the DuckDB oracle (single-expression chain over a column
# reference). Must stay in lockstep with clean_text_pandas.
def sql_clean_text(expr: str) -> str:
    e = f"regexp_replace({expr}, '<[^>]+>', ' ', 'g')"
    for src, dst in _HTML_ENTITIES:
        e = f"replace({e}, '{src}', {_sql_str(dst)})"
    for pat, rep in _LATEX_STEPS:
        e = f"regexp_replace({e}, {_sql_str(pat)}, {_sql_str(rep.replace('$1', chr(92) + '1'))}, 'g')"
    for pat, rep in _URL_STEPS:
        e = f"regexp_replace({e}, {_sql_str(pat)}, {_sql_str(rep)}, 'g')"
    src_esc = _UNICODE_SRC.replace("'", "''")
    dst_esc = _UNICODE_DST.replace("'", "''")
    e = f"translate({e}, '{src_esc}', '{dst_esc}')"
    e = f"translate({e}, '{_ACCENT_SRC}', '{_ACCENT_DST}')"
    e = f"lower(trim(regexp_replace({e}, '\\s+', ' ', 'g')))"
    return e


def _sql_str(s: str) -> str:
    # DuckDB single-quoted literals are not escape sequences: backslashes
    # pass through verbatim (so Python regex source == DuckDB regex source);
    # only quotes need doubling.
    return "'" + s.replace("'", "''") + "'"
