"""Column-function helpers shared by the operator suite.  Everything is
built from JVM-side pyspark.sql.functions (no Python UDFs) so the hot
path stays inside whole-stage codegen."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


import weakref as _weakref

#: per-SparkContext memo of CONSTRUCTED COLUMN EXPRESSIONS (never data,
#: never results) — see memo_exprs
_EXPR_MEMO: "_weakref.WeakKeyDictionary" = _weakref.WeakKeyDictionary()


def memo_exprs(tag: str, key: tuple, build):
    """Memoize a pure Column-expression constructor per SparkContext.

    Building a large expression tree through Python loops costs one
    py4j round trip per Column operation — lang_id alone is ~150 calls
    ≈ 0.15-0.2s of DRIVER time, and pipelines that rebuild their gates
    per micro-batch drain or per stage pay it each time (measured r15:
    ~0.4-0.5s of the streaming front door's ~0.8s per-drain premium is
    exactly this, scripts in OPTIMIZATION_r15.md §6).  Columns are
    immutable expression handles, so returning the SAME object for the
    same constructor+key is semantically identical to rebuilding it.

    CONTRACT: ``key`` must be plain Python values (column NAMES,
    literals) — never Column objects: a resolved attribute (df["x"])
    and an unresolved F.col("x") stringify identically, so an
    object-derived key could hand one caller's binding to another.
    ``build`` must be pure given the key (module-constant tables like
    STOPWORDS are fine).  The memo is keyed by the live SparkContext
    (weakly — entries die with it) and stores EXPRESSIONS only; data
    and query results are never cached here."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is None:
        return build()
    cache = _EXPR_MEMO.setdefault(sc, {})
    k = (tag,) + tuple(key)
    if k not in cache:
        # concurrent first callers may each build; setdefault keeps the
        # first stored one, so every caller gets the identical object
        return cache.setdefault(k, build())
    return cache[k]


def bind_once(expr, fn):
    """Evaluate ``expr`` once and pass it to ``fn`` as a lambda
    variable (transform over a 1-element array) — the sharing idiom
    used wherever an expression referenced several times would
    otherwise be CLONED per reference by optimizer substitution (HOF
    lambda bodies get no common-subexpression elimination).  The price
    is CodegenFallback for the wrapped expression; the win is that an
    expensive column is evaluated once instead of once per clone, and
    generated methods stay under javac's 64 KB limit.  (Moved here
    from operators/text.py so the non-text operators stop growing
    private copies.)"""
    return F.transform(F.array(expr), fn)[0]


def dot(a: Column, b: Column) -> Column:
    """elementwise dot product of two array<float/double> columns"""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    """cosine similarity; NULL (not NaN) when either vector has zero
    norm.  The guard is semantics, not cosmetics: 0/0 is NaN, Spark
    comparisons treat NaN as GREATER than every double, so an
    unguarded zero embedding (a failed encoder's classic output)
    passes every ``cos >= threshold`` filter and becomes a near-dup of
    its whole block — while DuckDB's list_cosine_similarity returns
    -1.0 for the same input, silently breaking engine parity.  NULL
    fails both engines' filters identically (and the oracle twins
    carry the same explicit guard)."""
    na, nb = l2_norm(a), l2_norm(b)
    return F.when((na > F.lit(0.0)) & (nb > F.lit(0.0)),
                  dot(a, b) / (na * nb))


#: explicit ASCII whitespace class, shared with the oracle twins.
#: Java's \s includes \x0B (vertical tab) while RE2/DuckDB's does not,
#: and plain trim() (both engines) strips ONLY spaces — so '\n'-led
#: text used to grow an empty first token here while DuckDB's
#: string_split_regex grew it too (shared flaw), and \x0B-separated
#: tokens silently diverged between engines.
WS_RE = "[ \\t\\n\\r\\f]+"


def word_tokens(text: Column) -> Column:
    """whitespace tokenization over class-normalized text (collapse
    WS_RE runs to single spaces, trim the edges); empty → empty array.
    No empty tokens regardless of leading/trailing whitespace kind."""
    t = F.trim(F.regexp_replace(text, WS_RE, " "))
    return F.when(t == "", F.array().cast("array<string>")).otherwise(
        F.split(t, " ")
    )


def word_ngrams(tokens: Column, n: int) -> Column:
    """word n-gram shingles from a token array (space-joined)"""
    idx = F.sequence(F.lit(0), F.size(tokens) - n)
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(tokens, i + j + 1) for j in range(n)]
    )
    return F.when(F.size(tokens) < n, F.array().cast("array<string>")).otherwise(
        F.transform(idx, gram)
    )


def hex_nibble_value(ch: Column) -> Column:
    """hex char -> 0..15 (portable across engines via strpos arithmetic)"""
    return F.instr(F.lit("0123456789abcdef"), ch) - 1


def hex4_to_int(h: Column) -> Column:
    """first 4 hex chars -> 16-bit int"""
    return (
        hex_nibble_value(F.substring(h, 1, 1)) * 4096
        + hex_nibble_value(F.substring(h, 2, 1)) * 256
        + hex_nibble_value(F.substring(h, 3, 1)) * 16
        + hex_nibble_value(F.substring(h, 4, 1))
    )


# --------------------------------------------------------------- URL keying
#
# util/Keying.java:33 — URL → row-key transform for web corpora: the
# host portion of a hierarchical URI's authority is dot-reversed so
# subdomains sort under their parent domain, and the result is wrapped
# in an artificial 'r:' scheme.  The transform is reversible and a
# non-hierarchical string passes through unchanged.
#
# _URI_RE is Keying.java's URI_RE_PARSER: group 1 = scheme + optional
# userinfo@, group 2 = host, group 3 = the rest (port/path/query/#).

import re as _re

_KEY_SCHEME = "r:"
# anchored to ABSOLUTE end of input: '$' (Python and Java alike) also
# matches before a trailing newline, which would silently drop the
# newline and collide 'u' with 'u\n' onto one key.  Python spells the
# absolute anchor \Z, Java regex (Spark's regexp_extract) spells it \z.
_URI_RE_BODY = r"^([^:/?#]+://(?:[^/?#@]+@)?)([^:/?#]+)(.*)"
_URI_RE_C = _re.compile(_URI_RE_BODY + r"\Z")
_URI_RE_SQL = _URI_RE_BODY + r"\z"


def _reverse_host(host: str) -> str:
    return ".".join(reversed(host.split(".")))


def create_key(u: str) -> str:
    """Keying.createKey:62 — driver-side scalar (row keys, tests)."""
    if u.startswith(_KEY_SCHEME):
        raise ValueError(f"starts with {_KEY_SCHEME}")
    m = _URI_RE_C.match(u) if u else None
    if not m:
        return u
    return _KEY_SCHEME + m.group(1) + _reverse_host(m.group(2)) + m.group(3)


def key_to_uri(s: str) -> str:
    """Keying.keyToUri:86 — reverse of create_key."""
    if not s.startswith(_KEY_SCHEME):
        return s
    m = _URI_RE_C.match(s[len(_KEY_SCHEME):])
    if not m:
        return s
    return m.group(1) + _reverse_host(m.group(2)) + m.group(3)


def url_key(url: Column) -> Column:
    """Column form of Keying.createKey for bulk keying at corpus scale
    — pure JVM-side expressions (regexp_extract + split/reverse), so a
    100 TB URL column keys inside whole-stage codegen with no Python
    round-trip.  Non-hierarchical strings pass through unchanged, and
    so does ANY 'r:'-prefixed input (already keyed, or a genuine
    scheme-'r' URL): the scalar form raises there, but a codegen
    expression cannot raise per-row, so pass-through is the column
    form's pinned behavior."""
    head = F.regexp_extract(url, _URI_RE_SQL, 1)
    host = F.regexp_extract(url, _URI_RE_SQL, 2)
    tail = F.regexp_extract(url, _URI_RE_SQL, 3)
    reversed_host = F.array_join(F.reverse(F.split(host, r"\.")), ".")
    return F.when(
        url.startswith(_KEY_SCHEME) | (host == ""), url
    ).otherwise(F.concat(F.lit(_KEY_SCHEME), head, reversed_host, tail))
