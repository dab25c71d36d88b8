"""Text-analysis operator library (north-star extension; BASELINE.json).

Everything is built from JVM-side Column expressions (split / transform /
filter / aggregate higher-order functions) — no Python UDFs in the hot
path. The reference's text handling is regex + str.split in Python
(/root/reference/publish_to_catalog.py:128-154); these are the distributed
counterparts, designed so a 100 TB documents table never leaves codegen.

Engine-portable determinism: token hashing uses an explicit polynomial over
ASCII codes (not Spark's murmur3 ``hash()``), so DuckDB oracles can compute
bit-identical values.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# 1e9+7, the classic prime modulus; POW31[i] = 31^i mod MOD.
HASH_MOD = 1_000_000_007
POW31 = [pow(31, i, HASH_MOD) for i in range(32)]

# Shared stopword list for quality rules (text_quality_scores,
# text_gopher_rules, corpus_release's keep filter) — ONE definition so the
# Spark rules and every DuckDB oracle interpolating {STOPWORDS!r} agree.
STOPWORDS = ["the", "a", "of", "and", "to", "in"]


def tokens(text: Column) -> Column:
    """Whitespace tokenization (split on runs of whitespace, trimmed)."""
    return F.split(F.trim(text), r"\s+")


def word_ngrams(toks: Column, n: int = 3) -> Column:
    """All space-joined word n-grams (order-preserving, duplicates kept)
    via arrays_zip of shifted slices.

    NOT the obvious ``transform(sequence(...), i -> element_at(toks, i+k))``:
    Catalyst's CollapseProject inlines the tokenizer expression into every
    element_at call inside the lambda, re-running the regex split O(tokens)
    times per row (measured 12x slower at sf0.1). Zipping n shifted slices
    references the token array only n+? times per ROW, keeping the scan
    stage linear. Documents with fewer than n tokens yield an empty array
    (the zip pads with null and the filter drops those entries).
    """
    shifted = [toks] + [
        F.slice(toks, k + 1, F.greatest(F.size(toks) - k, F.lit(0))) for k in range(1, n)
    ]
    zipped = F.arrays_zip(*shifted)
    full = F.filter(zipped, lambda x: x[str(n - 1)].isNotNull())
    return F.transform(full, lambda x: F.concat_ws(" ", *[x[str(k)] for k in range(n)]))


def word_shingles(toks: Column) -> Column:
    """Distinct word 3-gram shingles (the dedup/minhash base set; every
    oracle hard-codes the same space-joined 3-grams)."""
    return F.array_distinct(word_ngrams(toks))


def poly_hash_sql(col_expr: str, n_chars: int) -> str:
    """The DuckDB-SQL rendering of ``char_poly_hash`` — generated from the
    same POW31 constants so Spark and oracle values are bit-identical."""
    terms = " + ".join(
        f"CAST(coalesce(ascii(substr({col_expr}, {i + 1}, 1)), 0) AS BIGINT) * {POW31[i]}"
        for i in range(n_chars)
    )
    return f"({terms}) % {HASH_MOD}"


def char_poly_hash(s: Column, n_chars: int = 16) -> Column:
    """Deterministic polynomial rolling hash over the first ``n_chars``
    ASCII codes: sum(ascii(s[i]) * 31^i) mod 1e9+7.

    Used instead of murmur3 so the hash is reproducible in plain SQL on any
    engine (document fingerprinting / minhash base hash).
    """
    terms = [
        F.coalesce(F.ascii(F.substring(s, i + 1, 1)), F.lit(0)).cast("long") * F.lit(POW31[i])
        for i in range(n_chars)
    ]
    total = terms[0]
    for t in terms[1:]:
        total = total + t
    return total % F.lit(HASH_MOD)


def char_poly_hash_horner(s: Column) -> Column:
    """Full-string Horner polynomial hash: fold h = (h·31 + ascii(c)) mod
    1e9+7 over EVERY character. Engine-portable like ``char_poly_hash``
    (``poly_hash_horner_sql`` is the DuckDB rendering, value-identical),
    but covering the whole string.

    This is the minhash/simhash base hash. The truncated variant
    (first-N-chars) collapsed the effective shingle universe on corpora
    whose shingles share long prefixes — templated boilerplate, URL
    paths, per-tenant token prefixes — which made per-doc minima
    coincide across unrelated documents and LSH band buckets grow
    quadratically (measured: a 10x corpus with an 3-char shared token
    prefix produced 505x the candidate pairs). Hashing every character
    restores the universe to true shingle cardinality."""
    return F.aggregate(
        F.split(s, ""),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * F.lit(31) + F.coalesce(F.ascii(c), F.lit(0)))
        % F.lit(HASH_MOD),
    )


def poly_hash_horner_sql(col_expr: str) -> str:
    """DuckDB rendering of ``char_poly_hash_horner`` (list_reduce fold;
    the prepended 0 is the fold's initial accumulator)."""
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(range(1, len({col_expr}) + 1), "
        f"i -> CAST(coalesce(ascii(substr({col_expr}, CAST(i AS INT), 1)), 0) AS BIGINT))), "
        f"(acc, c) -> (acc * 31 + c) % {HASH_MOD})"
    )


def minhash_value(token_hash: Column, a: int, b: int) -> Column:
    """One universal-hash permutation h(x) = (a*x + b) mod MOD; min over a
    document's shingle hashes gives one minhash component."""
    return (token_hash * F.lit(a) + F.lit(b)) % F.lit(HASH_MOD)


def punct_ratio(text: Column) -> Column:
    """Fraction of characters that are sentence punctuation."""
    stripped = F.regexp_replace(text, r"[.,!?;:]", "")
    return (F.length(text) - F.length(stripped)).cast("double") / F.greatest(
        F.length(text), F.lit(1)
    ).cast("double")


def stopword_ratio(toks: Column, stopwords: list[str]) -> Column:
    sw = F.array(*[F.lit(s) for s in stopwords])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return n_stop.cast("double") / F.greatest(F.size(toks), F.lit(1)).cast("double")


def simhash_from_votes(vote_sums: list[Column]) -> Column:
    """Combine 16 per-bit vote sums into the fingerprint integer."""
    acc = F.lit(0).cast("long")
    for b, v in enumerate(vote_sums):
        acc = acc + F.when(v > 0, F.lit(1 << b)).otherwise(F.lit(0)).cast("long")
    return acc
