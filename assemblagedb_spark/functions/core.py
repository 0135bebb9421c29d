"""Pure scalar functions, expressed as engine-portable SQL text.

The core trick of this module: every hot-path scalar (gram windows, minhash
permutations, simhash bits) is written as *arithmetic SQL* that parses and
evaluates identically in Spark SQL (JVM-side, whole-stage codegen — no Python
UDF) and in DuckDB (the correctness oracle). No engine-specific hash function
is ever used in a result that gets compared.

Gram semantics (reference ``assemblage_db/src/index.rs:826-835``): pad the
UTF-8 bytes with three zero bytes on each side, slide a 4-byte window, read
each window as a big-endian u32. A text of n bytes yields n+3 grams; the empty
text yields three zero grams.

The SQL form derives the UTF-8 byte array arithmetically from codepoints
(``ascii``/``unicode`` per character, expanded by the standard UTF-8 encoding
cases), so it is byte-exact on EVERY Unicode plane — identical to the
driver-side ``index_text`` and the Arrow kernels. The earlier codepoint-window
form grammed non-ASCII text by codepoint, overflowing the u32 packing (and
DuckDB's INT32 arithmetic) for astral codepoints — Unicode sweep finding,
round 5.
"""

from __future__ import annotations

# ---------------------------------------------------------------------------
# Byte-4-gram index
# ---------------------------------------------------------------------------


def duckdb_utf8_bytes_sql(col: str) -> str:
    """DuckDB expression: LIST of UTF-8 byte values of string ``col``
    (NULL for NULL text), via the standard codepoint→UTF-8 arithmetic —
    byte-exact on every plane, no BLOB indexing needed (DuckDB cannot
    slice or hash BLOBs)."""
    u = "unicode(c)"
    return (
        f"flatten(list_transform(list_filter(string_split({col}, ''), "
        f"c -> c <> ''), c -> CASE"
        f" WHEN {u} < 128 THEN [{u}]"
        f" WHEN {u} < 2048 THEN [192 + {u} // 64, 128 + {u} % 64]"
        f" WHEN {u} < 65536 THEN [224 + {u} // 4096,"
        f" 128 + ({u} // 64) % 64, 128 + {u} % 64]"
        f" ELSE [240 + {u} // 262144, 128 + ({u} // 4096) % 64,"
        f" 128 + ({u} // 64) % 64, 128 + {u} % 64] END))"
    )


def duckdb_padded_bytes_sql(col: str) -> str:
    """DuckDB expression: the UTF-8 bytes of ``col`` padded with three
    zero bytes on each side — the reference's gram window domain; NULL
    for NULL text (DuckDB's list ``||`` treats a typed-NULL list operand
    as empty, so the guard must be explicit — NULL text must window
    NOTHING, not the 6 padding bytes)."""
    return (
        f"(CASE WHEN {col} IS NULL THEN NULL "
        f"ELSE [0, 0, 0] || {duckdb_utf8_bytes_sql(col)} || [0, 0, 0] END)"
    )


def gram_term_sql(pb: str, var: str) -> str:
    """u32 big-endian gram of the 4-byte window at 0-based index ``var``
    of the PADDED byte list ``pb`` (from :func:`duckdb_padded_bytes_sql`;
    valid window indexes are 0..len(pb)-4, i.e. n_bytes+3 windows).

    Every term is cast through the BIGINT first operand: byte values
    reach 255, so 255·2^24 would overflow DuckDB's INT32 literals.
    """
    return (
        f"({pb}[{var} + 1]::BIGINT * 16777216 + {pb}[{var} + 2] * 65536 "
        f"+ {pb}[{var} + 3] * 256 + {pb}[{var} + 4])"
    )


def spark_grams_array_expr(col: str) -> str:
    """Spark SQL expression: ARRAY<BIGINT> of all grams of string column
    ``col`` (n+3 grams for n bytes, 3 zero grams for empty text, NULL —
    i.e. no rows once exploded — for NULL text).

    NULL text indexes NOTHING: the DuckDB twin's ``range(-2,
    length(NULL))`` unnests no rows, so the NULL must propagate here too
    (a ``coalesce(col, '')`` emitted 3 padding grams per NULL document
    and silently made missing docs dedup candidates — NULL-content sweep
    finding, round 5). Empty text '' keeps its 3 padding grams in both
    engines.

    O(n) formulation: the text's UTF-8 byte array B is windowed by zipping
    four shifted copies (three-zero padding on each side), so no per-window
    substring scans — 12× faster than the positional ``substring`` form,
    entirely JVM-side. Higher-order functions are interpreted (not
    codegen'd), so constant factors matter here. Bytes come from the
    codepoint array via the standard UTF-8 encoding arithmetic (Spark's
    ``split('')`` keeps surrogate pairs together, so ``ascii`` sees full
    codepoints on every plane).
    """
    cps = (
        f"transform(filter(split({col}, ''), c -> c <> ''), "
        f"c -> CAST(ascii(c) AS BIGINT))"
    )
    bytes_arr = (
        f"flatten(transform({cps}, p -> CASE"
        f" WHEN p < 128 THEN array(p)"
        f" WHEN p < 2048 THEN array(192 + p div 64, 128 + p % 64)"
        f" WHEN p < 65536 THEN array(224 + p div 4096,"
        f" 128 + (p div 64) % 64, 128 + p % 64)"
        f" ELSE array(240 + p div 262144, 128 + (p div 4096) % 64,"
        f" 128 + (p div 64) % 64, 128 + p % 64) END))"
    )

    def z(k: int) -> str:
        return "array(" + ", ".join(["CAST(0 AS BIGINT)"] * k) + ")"

    a1 = f"concat({z(3)}, {bytes_arr})"
    a2 = f"concat({z(2)}, {bytes_arr}, {z(1)})"
    a3 = f"concat({z(1)}, {bytes_arr}, {z(2)})"
    a4 = f"concat({bytes_arr}, {z(3)})"
    return (
        f"zip_with(zip_with({a1}, {a2}, (x, y) -> x * 16777216 + y * 65536), "
        f"zip_with({a3}, {a4}, (x, y) -> x * 256 + y), (u, v) -> u + v)"
    )


def duckdb_grams_select(table: str, id_col: str, text_col: str) -> str:
    """DuckDB subquery text producing (``id_col``, gram) exploded rows with
    semantics identical to :func:`spark_grams_array_expr` (UTF-8 byte
    windows; n_bytes+3 grams per row, none for NULL text)."""
    return (
        f"(SELECT {id_col}, {gram_term_sql('pb', 'i')} AS gram FROM "
        f"(SELECT {id_col}, pb, unnest(range(0, len(pb) - 3)) AS i FROM "
        f"(SELECT {id_col}, {duckdb_padded_bytes_sql(text_col)} AS pb "
        f"FROM {table})))"
    )


def index_text(s: str) -> list[int]:
    """Driver-side byte-exact gram index of a search term
    (reference ``index.rs:826-835``)."""
    b = bytes(3) + s.encode("utf-8") + bytes(3)
    return [int.from_bytes(b[i : i + 4], "big") for i in range(len(b) - 3)]


def trim_for_search(grams: list[int]) -> list[int]:
    """Prefix/suffix slop for ad-hoc search: drop ``min((n-1)/2, 3)`` grams
    from each end (reference ``index.rs:195-200``)."""
    if not grams:
        return grams
    d = min((len(grams) - 1) // 2, 3)
    return grams[d : len(grams) - d]


# ---------------------------------------------------------------------------
# Portable arithmetic hashing (minhash / simhash / LSH)
# ---------------------------------------------------------------------------

# Mersenne prime 2^31 - 1: universal-hash modulus small enough that
# a*x+b stays within int64 for 32-bit gram inputs in both engines.
MINHASH_PRIME = 2147483647
MINHASH_SEED = 42  # start state of the coefficient LCG


def minhash_coeffs(k: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) coefficients for k universal hash functions
    h_j(x) = (a_j * x + b_j) mod P. A fixed LCG keeps this reproducible
    without RNG (portable to SQL literal lists)."""
    coeffs = []
    state = MINHASH_SEED
    for _ in range(k):
        state = (state * 1103515245 + 12345) % (1 << 31)
        a = state % (MINHASH_PRIME - 1) + 1
        state = (state * 1103515245 + 12345) % (1 << 31)
        b = state % MINHASH_PRIME
        coeffs.append((a, b))
    return coeffs


def universal_hash_sql(x: str, a: int, b: int) -> str:
    """(a·(x mod P) + b) mod P — identical int64 arithmetic in Spark and
    DuckDB. ``x`` reduces mod P FIRST: byte grams reach 2^32-1, and
    (2^32)·a would overflow int64; (P-1)·(P-1) stays under 2^62. For
    ASCII grams (always < P) the reduction is the identity."""
    return f"(((CAST({x} AS BIGINT) % {MINHASH_PRIME}) * {a} + {b}) % {MINHASH_PRIME})"


# ---------------------------------------------------------------------------
# Id namespacing
# ---------------------------------------------------------------------------


def xor_id_expr(id_col: str, namespace: int) -> str:
    """XOR-namespace an integer id (the Spark analogue of the reference's
    UUID-XOR import collision-proofing, ``index.rs:653-655``).

    Portable: Spark ``xor(a,b)`` doesn't exist as a function but ``a ^ b``
    parses in both engines? DuckDB uses ``xor()``; Spark uses ``^``. Callers
    use :func:`xor_id_expr` for Spark and ``xor()`` for DuckDB oracles.
    """
    return f"(CAST({id_col} AS BIGINT) ^ CAST({namespace} AS BIGINT))"


def xor_uuid_hex(id_hex: str, namespace_hex: str) -> str:
    """Driver-side XOR of two 32-char hex UUIDs (byte-exact reference
    semantics, ``index.rs:653-655``) — used by the import path for string ids."""
    return format(int(id_hex.replace("-", ""), 16) ^ int(namespace_hex.replace("-", ""), 16), "032x")


# ---------------------------------------------------------------------------
# Portable 32-bit integer mixer + string hash (sketches, training order)
# ---------------------------------------------------------------------------

# "lowbias32"-style xorshift-multiply mixer. The multiplier is kept < 2^27
# so every intermediate of (32-bit value * mult) stays inside int64 in both
# engines; two rounds avalanche low bits into the high (ordering-dominant)
# bits, which a plain affine hash never does.
MIX32_MULT = 0x45D9F3B
MIX32_MOD = 1 << 32
KNUTH_MULT = 2654435761  # floor(2^32 / phi)


def mix32_sql(x: str, seed: int = 0) -> str:
    """SQL text of the mixer over an int expression — **DuckDB dialect
    only**: it emits scalar ``xor(a, b)`` calls, which DuckDB provides but
    Spark SQL does not (Spark's bitwise xor is the ``^`` operator). Every
    caller is a DuckDB oracle builder; Spark-side callers must use
    :func:`mix32_col` (bit-identical results).

    The input is masked to its low 31 bits first: full-range int64 keys
    (e.g. xxhash64 content ids) would overflow ``x * KNUTH`` in int64
    (2^32 * KNUTH > int64 max; 2^31 * KNUTH fits), and DuckDB's ``%`` is
    negative-signed where Spark's pmod is not — after the mask every
    intermediate is non-negative and in-range, so plain ``%`` agrees
    across engines. For x in [0, 2^31) the mask is the identity (hash
    values unchanged for every driver-table id)."""
    h = f"((({x}) & 2147483647) * {KNUTH_MULT} + {seed}) % {MIX32_MOD}"
    for _ in range(2):
        h = f"(({_xor_sql(h)}) * {MIX32_MULT}) % {MIX32_MOD}"
    return _xor_sql(h)


def _xor_sql(h: str) -> str:
    return f"xor(({h}), ({h}) >> 16)"


def mix32_py(x, seed: int = 0):
    """The mixer on python ints or numpy int64 arrays — bit-identical to
    :func:`mix32_sql` / :func:`mix32_col`. Every intermediate stays below
    2^32 · MIX32_MULT < 2^59, inside int64 (no numpy wraparound)."""
    h = ((x & 0x7FFFFFFF) * KNUTH_MULT + seed) % MIX32_MOD
    for _ in range(2):
        h = ((h ^ (h >> 16)) * MIX32_MULT) % MIX32_MOD
    return h ^ (h >> 16)


def mix32_spark_text(x: str, seed: int = 0) -> str:
    """Spark-SQL TEXT of the mixer (for use inside higher-order-function
    lambdas where a Column cannot reach) — same arithmetic as
    :func:`mix32_sql` with Spark's ``^`` operator instead of DuckDB's
    ``xor()``, and ``shiftright()`` instead of ``>>`` (the ``>>`` token
    fails to parse inside doubly-nested lambdas — Spark parser quirk).
    Inputs must be non-negative (the mask guarantees it), so plain ``%``
    matches pmod.

    FOLDED form: the rounds run inside an ``aggregate`` whose accumulator
    binds each round's value to a lambda variable, and the final
    xor-shift is the aggregate's finish lambda — so ``x`` and every round
    evaluate exactly ONCE. The previous textual expansion referenced each
    round's expression twice per successor (and the input ~8x total);
    interpreted HOF lambdas get no common-subexpression elimination, so
    that shape re-ran the whole chain per reference (the same pathology
    as the round-4 simhash hash-once fix, review finding round 4).
    Bit-identical values (pinned by the mix32 parity tests)."""
    init = f"CAST(((({x}) & 2147483647) * {KNUTH_MULT} + {seed}) % {MIX32_MOD} AS BIGINT)"
    return (
        f"aggregate(sequence(1, 2), {init}, "
        f"(h, r) -> ((h ^ shiftright(h, 16)) * {MIX32_MULT}) % {MIX32_MOD}, "
        f"h -> (h ^ shiftright(h, 16)))"
    )


def mix32_col(x, seed: int = 0):
    """Column form of the mixer (Spark side). Input masked to 32 bits —
    see :func:`mix32_sql` for why."""
    from pyspark.sql import functions as F

    h = F.pmod(
        x.bitwiseAND(F.lit(2147483647)) * F.lit(KNUTH_MULT) + F.lit(seed),
        F.lit(MIX32_MOD),
    )
    for _ in range(2):
        h = F.pmod(
            h.bitwiseXOR(F.shiftright(h, 16)) * F.lit(MIX32_MULT), F.lit(MIX32_MOD)
        )
    return h.bitwiseXOR(F.shiftright(h, 16))


# Polynomial string hash: fold (acc * B + ascii(char)) % P over the bytes.
# Same arithmetic replays in DuckDB via list_reduce over the char codes.
STRHASH_BASE = 257
STRHASH_MOD = MINHASH_PRIME


def strhash_spark_sql(col: str) -> str:
    """Spark-SQL expression: polynomial hash of a string column."""
    return (
        f"aggregate(sequence(1, length({col})), CAST(0 AS BIGINT), "
        f"(acc, j) -> (acc * {STRHASH_BASE} + ascii(substr({col}, j, 1))) "
        f"% {STRHASH_MOD})"
    )


def strhash_duckdb_sql(col: str) -> str:
    """DuckDB expression computing the identical polynomial hash (2-arg
    list_reduce uses the first element as init, so prepend the 0 seed)."""
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(string_split({col}, ''), c -> CAST(ascii(c) AS BIGINT))), "
        f"(acc, c) -> (acc * {STRHASH_BASE} + c) % {STRHASH_MOD})"
    )
