"""Text primitives for the LLM-data-pipeline operators: tokenization,
portable deterministic hashing, shingles, MinHash / SimHash signatures.

Everything is built from Catalyst higher-order functions so it runs
JVM-side at scale, and every builder has an adjacent DuckDB SQL fragment
producing identical values (the oracle contract).

Hashing is a 31-base polynomial rolling hash over Unicode code points,
mod 1e9+7 — chosen over xxhash64/murmur because it is expressible
identically in ANY engine (the oracle requirement); values stay < 2^30 so
MinHash's affine rehash ``(a*x + b) % (2^31-1)`` never overflows signed 64.
For pure-Spark pipelines where oracle parity is not needed, ``xxhash64`` is
the faster path — see ``token_hashes_fast``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

HASH_MOD = 1_000_000_007
MINHASH_PRIME = 2_147_483_647  # 2^31 - 1, prime
TOKEN_SPLIT_RE = "[^a-z0-9]+"


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


# --- tokenization -----------------------------------------------------------

def tokens(text: Column | str) -> Column:
    """Lowercase word tokens (alnum runs)."""
    return F.filter(
        F.split(F.lower(_col(text)), TOKEN_SPLIT_RE), lambda t: t != ""
    )


def sql_tokens(text: str) -> str:
    return (
        f"list_filter(string_split_regex(lower({text}), '{TOKEN_SPLIT_RE}'),"
        " t -> t != '')"
    )


# --- polynomial rolling hash -------------------------------------------------

def string_hash(s: Column | str) -> Column:
    """``h = fold(chars, h*31 + codepoint) % (1e9+7)`` — the portable hash.

    Chars come from ``split(s, '')`` — one O(n) pass; per-index
    ``substring(s, i, 1)`` would seek from the string start each time
    (O(n^2) on long documents)."""
    s = _col(s)
    chars = F.filter(F.split(s, ""), lambda c: c != "")
    return F.aggregate(
        F.transform(chars, lambda c: F.ascii(c).cast("long")),
        F.lit(0).cast("long"),
        lambda a, c: (a * 31 + c) % HASH_MOD,
    )


def _sql_char_fold(expr: str) -> str:
    """The ONE DuckDB form of the portable hash fold — every SQL mirror
    builds on this so a constant/fold tweak changes exactly one place.
    ``list_prepend(0, ...)`` supplies the fold seed: harmless for
    non-empty input (0*31 + c == c) and keeps ``list_reduce`` defined on
    empty strings."""
    return (
        f"list_reduce(list_prepend(0, list_transform("
        f"list_filter(string_split_regex({expr}, ''), c -> c != ''),"
        f" c -> CAST(ascii(c) AS BIGINT))), (a, c) -> (a * 31 + c) % {HASH_MOD})"
    )


def sql_string_hash(s: str) -> str:
    return _sql_char_fold(s)


# Second independent fold for ~60-bit fingerprints: different multiplier,
# different prime.  Either fold alone is ~30 bits, which false-merges by
# birthday at ~50k documents — far below the corpus sizes the dedup
# operators advertise.  a*131 + c stays < 1.4e11, BIGINT-safe anywhere.
HASH_MOD2 = 999_999_937
HASH_MUL2 = 131


def string_hash2(s: Column | str) -> Column:
    """The second fold: ``h = fold(chars, h*131 + codepoint) % 999999937``."""
    s = _col(s)
    chars = F.filter(F.split(s, ""), lambda c: c != "")
    return F.aggregate(
        F.transform(chars, lambda c: F.ascii(c).cast("long")),
        F.lit(0).cast("long"),
        lambda a, c: (a * HASH_MUL2 + c) % HASH_MOD2,
    )


def sql_string_hash2(s: str) -> str:
    return (
        f"list_reduce(list_prepend(0, list_transform("
        f"list_filter(string_split_regex({s}, ''), c -> c != ''),"
        f" c -> CAST(ascii(c) AS BIGINT))),"
        f" (a, c) -> (a * {HASH_MUL2} + c) % {HASH_MOD2})"
    )


def fingerprint60(s: Column | str) -> Column:
    """~60-bit content fingerprint: ``h1 * 999999937 + h2`` packs the two
    independent folds into one BIGINT (< 1.1e18, portable).  Collision
    odds stay negligible past 10^9 documents, where the single 30-bit
    fold would silently merge ~half the corpus into false groups.

    ONE fused pass: both folds advance in a single aggregate with a
    (h1, h2) struct accumulator — the two-fold form walked the document
    twice (measured 2x the per-doc hash cost, the whole dedup_exact
    regression of round 3).  The pack is computed in the aggregate's
    FINISH lambda, the collapse-proof form: extracting h1/h2 from a
    projected struct column would let CollapseProject re-inline (and
    re-evaluate) the whole fold once per field."""
    chars = F.filter(F.split(_col(s), ""), lambda c: c != "")
    return F.aggregate(
        F.transform(chars, lambda c: F.ascii(c).cast("long")),
        F.struct(
            F.lit(0).cast("long").alias("h1"), F.lit(0).cast("long").alias("h2")
        ),
        lambda a, c: F.struct(
            ((a["h1"] * 31 + c) % HASH_MOD).alias("h1"),
            ((a["h2"] * HASH_MUL2 + c) % HASH_MOD2).alias("h2"),
        ),
        lambda a: a["h1"] * F.lit(HASH_MOD2) + a["h2"],
    )


def sql_fingerprint60(s: str) -> str:
    return f"({sql_string_hash(s)}) * {HASH_MOD2} + ({sql_string_hash2(s)})"


def normalize_for_dedup(s: Column | str) -> Column:
    """CCNet-style text normalization for fuzzy-exact dedup (Wenzek et
    al. 2020 §4.1 dedup paragraphs after lowercasing and stripping
    punctuation/digits — the cheap normalization that catches the
    re-serialized/re-cased/re-wrapped copies byte-exact dedup misses):
    lowercase, strip every non-[a-z0-9 ] character (digits KEPT — a
    "2019" vs "2020" article is a different document), collapse
    whitespace runs to one space, trim.  ASCII classes only, so the
    Java-regex and RE2 mirrors agree character-for-character; NULL
    passes through NULL."""
    c = F.lower(_col(s))
    c = F.regexp_replace(c, r"[^a-z0-9 \t\n\r]", "")
    c = F.regexp_replace(c, r"\s+", " ")
    return F.trim(c)


def sql_normalize_for_dedup(s: str) -> str:
    return (
        f"trim(regexp_replace(regexp_replace(lower({s}),"
        f" '[^a-z0-9 \\t\\n\\r]', '', 'g'), '\\s+', ' ', 'g'))"
    )


def token_hashes(text: Column | str) -> Column:
    """Hash of every token of ``text`` — ``string_hash`` applied per
    element (it accepts any Column, including a lambda variable)."""
    return F.transform(tokens(text), lambda t: string_hash(t))


def sql_token_hashes(text: str) -> str:
    return f"list_transform({sql_tokens(text)}, t -> {_sql_char_fold('t')})"


def sql_hash_elements(list_expr: str) -> str:
    """DuckDB: polynomial hash of every string element of a list —
    mirrors ``F.transform(arr, string_hash)``."""
    return f"list_transform({list_expr}, t -> {_sql_char_fold('t')})"


# --- hashed shingles (the scale path for MinHash / Jaccard) ------------------

def shingle_hashes(text: Column | str, k: int = 3) -> Column:
    """Distinct hashes of k-token shingles, computed as ONE rolling fold
    over the token-hash array (no per-shingle string building, no
    re-evaluation of upstream hashing inside lambdas).

    Shingle hash = the same polynomial fold over the window's token
    hashes: ``h = fold(window, h*31 + token_hash) % M``.  Documents with
    0 < n_tokens < k yield one shingle covering all tokens (mirroring the
    short-document semantics of string shingles); empty token sets yield
    null.  Only k=3 has the one-pass fold; other k fall back to the
    slice-per-index shape.
    """
    th = token_hashes(text)
    if k != 3:
        idx = F.sequence(F.lit(0), F.greatest(F.size(th) - k, F.lit(0)))
        raw = F.transform(
            idx,
            lambda i: F.aggregate(
                F.slice(th, i + 1, k),
                F.lit(0).cast("long"),
                lambda a, t: (a * 31 + t) % HASH_MOD,
            ),
        )
        return F.when(F.size(th) > 0, F.array_distinct(raw))

    init = F.struct(
        F.lit(0).cast("long").alias("p1"),
        F.lit(0).cast("long").alias("p2"),
        F.lit(0).cast("long").alias("cnt"),
        F.lit(0).cast("long").alias("whole"),
        F.array().cast("array<long>").alias("out"),
    )

    def merge(s, t):
        sh = ((((s["p1"] * 31 + s["p2"]) % HASH_MOD) * 31) + t) % HASH_MOD
        return F.struct(
            s["p2"].alias("p1"),
            t.alias("p2"),
            (s["cnt"] + 1).alias("cnt"),
            ((s["whole"] * 31 + t) % HASH_MOD).alias("whole"),
            F.when(s["cnt"] >= 2, F.array_append(s["out"], sh))
            .otherwise(s["out"])
            .alias("out"),
        )

    def finish(s):
        return (
            F.when(s["cnt"] >= 3, F.array_distinct(s["out"]))
            .when(s["cnt"] > 0, F.array(s["whole"]))
            .otherwise(F.lit(None).cast("array<long>"))
        )

    return F.aggregate(th, init, merge, finish)


def sql_shingle_hashes(th: str, k: int = 3) -> str:
    """DuckDB mirror over a token-hash list expression/column ``th`` —
    reference it as a CTE column so it is evaluated once per row."""
    fold = f"list_reduce(list_prepend(0, ({th})[i+1 : i+{k}]), (a, t) -> (a * 31 + t) % {HASH_MOD})"
    raw = f"list_transform(range(0, greatest(len({th}) - {k}, 0) + 1), i -> {fold})"
    return f"CASE WHEN len({th}) > 0 THEN list_distinct({raw}) END"


def token_hashes_fast(text: Column | str) -> Column:
    """Scale path: 64-bit xxhash per token (JVM intrinsic, no char loop).
    Not oracle-portable; use for production pipelines."""
    return F.transform(tokens(text), lambda t: F.xxhash64(t))


# --- hashed n-gram feature buckets (DSIR) ------------------------------------

def ngram_buckets(hashes: Column | str, n_buckets: int = 4096) -> Column:
    """Hashed n-gram feature buckets over a TOKEN-HASH array: one bucket
    id in ``[0, n_buckets)`` per unigram and per bigram — the feature map
    of DSIR importance resampling (Xie et al., NeurIPS'23, which hashes
    uni+bigrams into 10k buckets).  Bigram hashes combine the two token
    hashes with the same polynomial step as ``shingle_hashes`` (no string
    re-building, pure integer math — exactly mirrored in DuckDB).

    ``hashes`` must be a BOUND column (project ``token_hashes`` in a
    prior select): lambda bodies re-evaluate expression subtrees per
    element, so an inlined hash pipeline would re-tokenize per n-gram.
    """
    th = _col(hashes)
    n = F.size(th)
    uni = F.transform(th, lambda h: h % n_buckets)
    # sequence() descends when start > stop — guard n < 2 explicitly.
    big = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: (
                (F.element_at(th, i.cast("int")) * 31 + F.element_at(th, (i + 1).cast("int")))
                % HASH_MOD
            )
            % n_buckets,
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    return F.concat(uni, big)


def sql_ngram_buckets(hashes: str, n_buckets: int = 4096) -> str:
    """DuckDB mirror of ``ngram_buckets`` over a token-hash list column
    (bind it in a CTE first).  ``range(1, len)`` is empty when len <= 1,
    so no short-input guard is needed here."""
    return (
        f"list_concat(list_transform({hashes}, h -> h % {int(n_buckets)}),"
        f" list_transform(range(1, len({hashes})),"
        f" i -> (({hashes}[i] * 31 + {hashes}[i+1]) % {HASH_MOD}) % {int(n_buckets)}))"
    )


# --- shingles ----------------------------------------------------------------

def shingles(text: Column | str, k: int = 3) -> Column:
    """k-token shingles joined by a space; distinct set."""
    toks = tokens(text)
    n = F.size(toks)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(n - k, F.lit(0))),
            lambda i: F.array_join(F.slice(toks, i + 1, k), " "),
        )
    )


def sql_shingles(text: str, k: int = 3) -> str:
    toks = sql_tokens(text)
    return (
        f"list_distinct(list_transform(range(0, greatest(len({toks}) - {k}, 0) + 1),"
        f" i -> array_to_string(({toks})[i+1 : i+{k}], ' ')))"
    )


# --- MinHash -----------------------------------------------------------------

# Affine rehash coefficients: the multiplier must be LARGE so products wrap
# mod p and destroy magnitude ordering (small multipliers like (2i+1) keep
# the globally-smallest token hash the argmin of every rehash).  Knuth's
# multiplicative constant scaled per hash index; a < p and x < 2^30 keep
# a*x + b < 2^61, safe in signed 64 in any engine.
MINHASH_A = 2_654_435_761
MINHASH_B = 97_531


def minhash_signature(hashes: Column | str, num_hashes: int = 32) -> Column:
    """MinHash signature: ``sig[i] = min over token hashes of
    (a_i * h + b_i) % (2^31-1)`` with ``a_i = (K*(i+1)) % p`` (Knuth
    multiplicative rehash).  Null for empty token sets.

    Shaped as ONE fold over the hash array (``aggregate`` with an
    array accumulator) rather than ``num_hashes`` independent scans:
    expressions referenced inside a higher-order-function lambda are
    re-evaluated per element (Catalyst cannot CSE across lambda
    boundaries), so the scan-per-hash shape recomputes the entire
    upstream token/shingle hashing ``num_hashes`` times — 30-100x slower
    on real documents.
    """
    hs = _col(hashes)
    idx = F.sequence(F.lit(0), F.lit(num_hashes - 1))
    init = F.transform(idx, lambda i: F.lit(MINHASH_PRIME).cast("long"))
    # Empty-input detection happens in the FINISH lambda, not via
    # `when(size(hs) > 0, ...)`: that guard would evaluate the entire
    # upstream shingle/token pipeline a second time (no CSE across the
    # expression tree).  Rehashed values are always < PRIME, so an
    # untouched accumulator lane == PRIME iff the input was empty.
    return F.aggregate(
        hs,
        init,
        lambda acc, x: F.zip_with(
            acc,
            idx,
            lambda m, i: F.least(
                m,
                (
                    ((F.lit(MINHASH_A) * (i + 1)) % MINHASH_PRIME) * x
                    + (F.lit(MINHASH_B) * (i + 1) + 12345) % MINHASH_PRIME
                )
                % MINHASH_PRIME,
            ),
        ),
        lambda acc: F.when(
            F.element_at(acc, 1) != MINHASH_PRIME, acc
        ),
    )


def sql_minhash_signature(hashes: str, num_hashes: int = 32) -> str:
    sig = (
        f"list_transform(range(0, {num_hashes}), i -> list_min(list_transform({hashes},"
        f" x -> ((({MINHASH_A} * (i + 1)) % {MINHASH_PRIME}) * x"
        f" + ({MINHASH_B} * (i + 1) + 12345) % {MINHASH_PRIME}) % {MINHASH_PRIME})))"
    )
    return f"CASE WHEN len({hashes}) > 0 THEN {sig} END"


def lsh_band_keys(signature: Column | str, bands: int, rows_per_band: int) -> Column:
    """Band the signature: array of ``bands`` string keys, each the joined
    slice of ``rows_per_band`` signature values.  Equal key in any band =
    LSH candidate pair."""
    sig = _col(signature)
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.array_join(F.slice(sig, b * rows_per_band + 1, rows_per_band), "-"),
    )


# --- SimHash -----------------------------------------------------------------

def simhash(hashes: Column | str, bits: int = 32) -> Column:
    """SimHash over token hashes: bit i of the output is the sign of
    ``sum(+1 if bit i of token hash else -1)``; packed with the same
    ``acc*2 + bit`` fold as sign codes.  Null for empty token sets.

    Single fold over the hash array with a per-bit counter accumulator
    (see minhash_signature for why the per-bit-scan shape is 30-100x
    slower: lambda-captured subtrees re-evaluate per element).
    """
    hs = _col(hashes)
    idx = F.sequence(F.lit(bits - 1), F.lit(0), F.lit(-1))  # MSB first
    bit_of = lambda h, i: (h / F.pow(F.lit(2.0), i.cast("double"))).cast("long") % 2
    # Element count rides in the accumulator so the empty-input guard does
    # NOT re-evaluate the upstream token pipeline (same trick as
    # minhash_signature's finish-lambda sentinel).
    init = F.struct(
        F.lit(0).cast("long").alias("n"),
        F.transform(idx, lambda i: F.lit(0).cast("long")).alias("c"),
    )

    def merge(acc, h):
        return F.struct(
            (acc["n"] + 1).alias("n"),
            F.zip_with(
                acc["c"], idx, lambda c, i: c + F.when(bit_of(h, i) == 1, 1).otherwise(-1)
            ).alias("c"),
        )

    def finish(acc):
        packed = F.aggregate(
            acc["c"],
            F.lit(0).cast("long"),
            lambda a, c: a * 2
            + F.when(c > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long")),
        )
        return F.when(acc["n"] > 0, packed)

    return F.aggregate(hs, init, merge, finish)


def srp_simhash(hashes: Column | str, bits: int = 60) -> Column:
    """Sign-random-projection SimHash (Charikar, STOC'02) — ``bits``
    INDEPENDENT fingerprint bits, unlike :func:`simhash`, whose bit i
    reads bit i of the 30-bit token hash and therefore saturates at 30
    useful bits.  Bit i is the sign of
    ``sum over token hashes h of (2*parity_i(h) - 1)`` with
    ``parity_i(h) = ((A*(i+1)) % P * h + (B*(i+1) + 54321) % P) % P % 2``
    — the minhash rehash family with a distinct additive offset, reduced
    mod 2 (P is odd, so the parity is unbiased).  60 bits keeps the
    packed value < 2^60, positive in any engine's BIGINT (64-bit packing
    would wrap the sign bit in Spark and overflow DuckDB).  Null for
    empty token sets.

    At web scale a 30-effective-bit fingerprint collides by birthday at
    ~10^5 documents; Manku et al. (WWW'07) run 64-bit fingerprints for
    8B pages — this is the same design point under the portable-hash
    constraint.
    """
    hs = _col(hashes)
    idx = F.sequence(F.lit(bits - 1), F.lit(0), F.lit(-1))  # MSB first
    parity = lambda h, i: (
        ((F.lit(MINHASH_A) * (i + 1)) % MINHASH_PRIME) * h
        + (F.lit(MINHASH_B) * (i + 1) + 54321) % MINHASH_PRIME
    ) % MINHASH_PRIME % 2
    init = F.struct(
        F.lit(0).cast("long").alias("n"),
        F.transform(idx, lambda i: F.lit(0).cast("long")).alias("c"),
    )

    def merge(acc, h):
        return F.struct(
            (acc["n"] + 1).alias("n"),
            F.zip_with(
                acc["c"],
                idx,
                lambda c, i: c + F.when(parity(h, i) == 1, 1).otherwise(-1),
            ).alias("c"),
        )

    def finish(acc):
        packed = F.aggregate(
            acc["c"],
            F.lit(0).cast("long"),
            lambda a, c: a * 2
            + F.when(c > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long")),
        )
        return F.when(acc["n"] > 0, packed)

    return F.aggregate(hs, init, merge, finish)


def sql_srp_simhash(hashes: str, bits: int = 60) -> str:
    """DuckDB mirror of :func:`srp_simhash` — same rehash-parity votes,
    same MSB-first pack."""
    parity = (
        f"(((({MINHASH_A} * (i + 1)) % {MINHASH_PRIME}) * h"
        f" + ({MINHASH_B} * (i + 1) + 54321) % {MINHASH_PRIME})"
        f" % {MINHASH_PRIME}) % 2"
    )
    bits_arr = (
        f"list_transform(range({bits - 1}, -1, -1), i -> CASE WHEN"
        f" list_reduce(list_prepend(0, list_transform({hashes},"
        f" h -> CASE WHEN {parity} = 1 THEN 1 ELSE -1 END)), (a, b) -> a + b) > 0"
        " THEN 1::BIGINT ELSE 0::BIGINT END)"
    )
    return (
        f"CASE WHEN len({hashes}) > 0 THEN"
        f" list_reduce({bits_arr}, (a, b) -> a * 2 + b) END"
    )


def sql_simhash(hashes: str, bits: int = 32) -> str:
    # floor before cast: DuckDB CAST(double AS BIGINT) rounds, Spark's cast
    # truncates — floor makes both truncate identically for positive h.
    bit_of = "CAST(floor(h / power(2, i)) AS BIGINT) % 2"
    bits_arr = (
        f"list_transform(range({bits - 1}, -1, -1), i -> CASE WHEN"
        f" list_reduce(list_prepend(0, list_transform({hashes},"
        f" h -> CASE WHEN {bit_of} = 1 THEN 1 ELSE -1 END)), (a, b) -> a + b) > 0"
        " THEN 1::BIGINT ELSE 0::BIGINT END)"
    )
    return (
        f"CASE WHEN len({hashes}) > 0 THEN"
        f" list_reduce({bits_arr}, (a, b) -> a * 2 + b) END"
    )


# --- winnowing fingerprints (rolling hash) -----------------------------------

def winnow_fingerprints(text: Column | str, k: int = 3, w: int = 4) -> Column:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD'03): the
    distinct minima of a ``w``-gram sliding window over the positional
    k-token-shingle rolling hashes.  Robust to insertions/reordering —
    the standard near-copy fingerprint for plagiarism/dedup at scale.

    One O(n) fold per document (no positional slice re-evaluation): the
    accumulator carries the last k-1 token hashes, the last w-1 gram
    hashes, the running gram minimum and the emitted window minima.
    Degenerate inputs mirror ``shingle_hashes``: fewer grams than ``w``
    -> one fingerprint (min over all grams); fewer tokens than ``k`` ->
    the whole-document fold; no tokens -> null.  Output is the sorted
    distinct fingerprint array.
    """
    if k != 3:
        raise NotImplementedError("winnow_fingerprints implements the k=3 one-pass fold")
    if w < 2:
        raise ValueError("window w must be >= 2")
    th = token_hashes(text)
    init = F.struct(
        F.lit(0).cast("long").alias("p1"),
        F.lit(0).cast("long").alias("p2"),
        F.lit(0).cast("long").alias("cnt"),
        F.lit(0).cast("long").alias("whole"),
        F.lit(HASH_MOD).cast("long").alias("gmin"),
        F.array().cast("array<long>").alias("buf"),
        F.array().cast("array<long>").alias("out"),
    )

    def merge(s, t):
        gram = ((((s["p1"] * 31 + s["p2"]) % HASH_MOD) * 31) + t) % HASH_MOD
        has_gram = s["cnt"] >= 2
        full = F.size(s["buf"]) == w - 1
        return F.struct(
            s["p2"].alias("p1"),
            t.alias("p2"),
            (s["cnt"] + 1).alias("cnt"),
            ((s["whole"] * 31 + t) % HASH_MOD).alias("whole"),
            F.when(has_gram, F.least(s["gmin"], gram)).otherwise(s["gmin"]).alias("gmin"),
            F.when(has_gram & full, F.concat(F.slice(s["buf"], 2, w - 2), F.array(gram)))
            .when(has_gram, F.array_append(s["buf"], gram))
            .otherwise(s["buf"])
            .alias("buf"),
            F.when(
                has_gram & full,
                F.array_append(s["out"], F.least(F.array_min(s["buf"]), gram)),
            )
            .otherwise(s["out"])
            .alias("out"),
        )

    def finish(s):
        return (
            F.when(s["cnt"] >= k + w - 1, F.array_sort(F.array_distinct(s["out"])))
            .when(s["cnt"] >= k, F.array(s["gmin"]))
            .when(s["cnt"] > 0, F.array(s["whole"]))
            .otherwise(F.lit(None).cast("array<long>"))
        )

    return F.aggregate(th, init, merge, finish)


def sql_winnow_fingerprints(th: str, k: int = 3, w: int = 4) -> str:
    """DuckDB mirror of ``winnow_fingerprints`` over a token-hash list
    column/expression ``th`` — direct (non-streaming) formula; identical
    values.  Returns a list expression (sorted distinct fingerprints)."""
    fold = f"(a, b) -> (a * 31 + b) % {HASH_MOD}"
    whole = f"list_reduce(list_prepend(0, {th}), {fold})"
    grams = (
        f"list_transform(range(1, len({th}) - {k} + 2), i ->"
        f" list_reduce(list_prepend(0, list_slice({th}, i, i + {k - 1})), {fold}))"
    )
    g = f"CASE WHEN len({th}) = 0 THEN NULL WHEN len({th}) < {k} THEN [{whole}] ELSE {grams} END"
    mins = (
        f"list_transform(range(1, len(g) - {w} + 2), j ->"
        f" list_aggregate(list_slice(g, j, j + {w - 1}), 'min'))"
    )
    return (
        f"(SELECT CASE WHEN g IS NULL THEN NULL"
        f" WHEN len(g) < {w} THEN [list_aggregate(g, 'min')]"
        f" ELSE list_sort(list_distinct({mins})) END"
        f" FROM (SELECT {g} AS g))"
    )


# --- BPE-ish tokenization (token counting) -----------------------------------

# GPT-2-style pre-tokenizer, simplified to the Java-regex/RE2 common subset
# (no lookarounds): contraction tails, space-prefixed word/number/punct runs,
# whitespace runs.  Applied to lowercased text in both engines.
BPE_SPLIT_RE = "'[a-z]+| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\\s']+|\\s+"


def bpe_pretokens(text: Column | str) -> Column:
    """BPE-ish pre-tokens of lowercased ``text`` (whitespace-run matches
    dropped) — the unit a byte-pair encoder would merge within; counting
    them approximates LLM token counts far better than word counts."""
    matches = F.regexp_extract_all(F.lower(_col(text)), F.lit(BPE_SPLIT_RE), F.lit(0))
    return F.filter(matches, lambda m: F.trim(m) != "")


def sql_bpe_pretokens(text: str) -> str:
    # only quotes need doubling: DuckDB single-quoted literals do not
    # process backslash escapes, so the \s classes pass through verbatim
    pat = BPE_SPLIT_RE.replace("'", "''")
    return (
        f"list_filter(regexp_extract_all(lower({text}), '{pat}'),"
        " m -> trim(m) != '')"
    )


def ws_token_count(text: Column | str) -> Column:
    """Whitespace-run token count (the cheap baseline)."""
    return F.size(
        F.filter(F.split(_col(text), "\\s+"), lambda x: x != "")
    ).cast("long")


def sql_ws_token_count(text: str) -> str:
    return (
        f"CAST(len(list_filter(string_split_regex({text}, '\\s+'),"
        " x -> x != '')) AS BIGINT)"
    )
