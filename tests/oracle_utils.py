"""Local replica of the driver's DuckDB-oracle comparison.

Runs a registry query on Spark and its oracle SQL on DuckDB over the
same parquet tables, then compares row count + column names +
order-insensitive values (columns sorted by name, rows sorted by all
columns). Floats compare with a tiny relative tolerance purely to give
better failure messages — equality is the goal.
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

import duckdb
import numpy as np
import pandas as pd

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def duckdb_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir.rstrip('/')}/{t}.parquet'"
        )
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            if getattr(s.dtype, "tz", None) is not None:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            df[c] = s.dt.strftime("%Y-%m-%d %H:%M:%S.%f")
        elif s.dtype == object:
            # The DRIVER's canonicalizer sorts raw object columns and
            # crashes on unhashable values (lists/dicts/ndarrays), as
            # array-valued x_token_ids/x_pack_boundaries once did. Mirror that
            # strictness here instead of silently str-mapping, so a
            # registry query that would fail the driver fails locally.
            bad = s.map(lambda v: isinstance(v, (list, dict, set))
                        or type(v).__name__ == "ndarray")
            if bad.any():
                raise TypeError(
                    f"column {c!r} contains unhashable container values "
                    "(driver canonicalizer would crash) — serialize to a "
                    "string in both the Spark query and the oracle"
                )
            df[c] = s.map(lambda v: str(v) if v is not None else None)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare(spark_df, oracle_sql: str, sf_dir: str,
            con: duckdb.DuckDBPyConnection | None = None) -> list[str]:
    """Returns a list of mismatch descriptions (empty = match). ``con``
    runs the oracle instead of a fresh :func:`duckdb_conn` (one with
    Python functions registered, say)."""
    problems: list[str] = []
    sp = spark_df.toPandas()
    con = con or duckdb_conn(sf_dir)
    du = con.execute(oracle_sql).fetchdf()

    if len(sp) != len(du):
        problems.append(f"row count: spark={len(sp)} duckdb={len(du)}")
    if sorted(sp.columns) != sorted(du.columns):
        problems.append(f"columns: spark={sorted(sp.columns)} duckdb={sorted(du.columns)}")
        return problems

    a, b = _normalize(sp), _normalize(du)
    if len(a) != len(b):
        return problems or [f"row count after normalize: {len(a)} vs {len(b)}"]
    for c in a.columns:
        av, bv = a[c], b[c]
        if pd.api.types.is_float_dtype(av) and pd.api.types.is_float_dtype(bv):
            problems.extend(float_column_problems(c, av, bv))
        else:
            neq = ~((av == bv) | (av.isna() & bv.isna()))
            if neq.any():
                i = int(neq.idxmax())
                problems.append(
                    f"col {c}: {int(neq.sum())} mismatches; first at row {i}: "
                    f"spark={av[i]!r} duckdb={bv[i]!r}"
                )
    problems.extend(negative_zero_sweep({"spark": a, "duckdb": b}))
    return problems


def float_column_problems(c: str, av: pd.Series, bv: pd.Series) -> list[str]:
    """Value check for one aligned float column pair.

    "Bit-exact" must mean BIT patterns, not IEEE `==`: -0.0 == 0.0 is
    True, yet the driver's canonicalizer serializes the two
    differently and the hash diverges (the r07 x_token_pmi /
    x_embed_covariance* fails shipped through exactly this blind spot
    — the old check was `(av.fillna(0) == bv.fillna(0)).all()`).
    Compares int64 views of the float64 payloads, NaN==NaN allowed."""
    problems: list[str] = []
    xa = av.to_numpy(dtype="float64")
    xb = bv.to_numpy(dtype="float64")
    na_a, na_b = np.isnan(xa), np.isnan(xb)
    both = ~na_a & ~na_b
    pa, pb = xa[both], xb[both]  # hoisted once — fancy indexing copies
    # one vectorized pass (math.isclose semantics: rel OR abs within
    # 1e-12) — the old per-element Python loop dominated the sf0.1
    # registry-wide sweep for zero extra information (r08 review).
    # Non-finite values get math.isclose's exact semantics: inf is
    # close only to the same-signed inf, never to a finite value
    # (inf - inf = nan and 1e-12 * inf = inf would otherwise misgrade
    # both directions — r08 review pass 2).
    finite = np.isfinite(pa) & np.isfinite(pb)
    close = np.zeros(len(pa), dtype=bool)
    fa, fb = pa[finite], pb[finite]
    close[finite] = np.abs(fa - fb) <= np.maximum(
        1e-12 * np.maximum(np.abs(fa), np.abs(fb)), 1e-12
    )
    close[~finite] = pa[~finite] == pb[~finite]
    bad = int((na_a != na_b).sum()) + int((~close).sum())
    bits_neq = pa.view("int64") != pb.view("int64")
    exact = not (na_a != na_b).any() and not bits_neq.any()
    if bad:
        problems.append(f"col {c}: {bad} value mismatches (float)")
    elif not exact:
        signed_zero = int(
            ((pa == 0) & (pb == 0)
             & (pa.view("int64") != pb.view("int64"))).sum()
        )
        detail = (f" ({signed_zero} signed-zero divergences: one "
                  "engine -0.0, the other +0.0 — normalize with "
                  "`round(...) + 0` in the oracle)"
                  if signed_zero else "")
        problems.append(
            f"col {c}: floats equal at 1e-12 but NOT bit-exact "
            f"(driver hash WILL fail){detail}"
        )
    return problems


def negative_zero_sweep(frames: dict[str, pd.DataFrame]) -> list[str]:
    """House rule (r08, from the r07 signed-zero post-mortem): NO
    oracle-gated lane may emit -0.0 in ANY float column on EITHER
    engine — even when both engines agree bit-for-bit today, an
    agreeing -0.0 is one summation-order or rounding-path change away
    from the r07 divergence class. The fix is `+ 0` after the round on
    the side that produces it (IEEE: -0.0 + 0 = +0.0)."""
    problems: list[str] = []
    for side, df in frames.items():
        for c in df.columns:
            s = df[c]
            if not pd.api.types.is_float_dtype(s):
                continue
            x = s.to_numpy(dtype="float64")
            negz = int(((x == 0) & (np.signbit(x))).sum())
            if negz:
                problems.append(
                    f"col {c}: {negz} negative-zero value(s) on the "
                    f"{side} side — fragile float contract; normalize "
                    "with `round(...) + 0`"
                )
    return problems


#: Java's regex ``\s`` (the ASCII class) — Python's ``\s`` also matches
#: Unicode whitespace (NBSP, U+3000, \x1c), which Spark keeps as content
JAVA_WS = "[ \t\n\x0b\f\r]+"


def winnow_replay(text: str | None, k: int = 4, w: int = 3) -> tuple:
    """Pure-Python winnowing (Schleimer'03 rightmost-min) with the
    engine's JVM text semantics spelled out: lower(), Java ``\\s``
    collapsed to ' ', Spark ``trim`` (strips ' ' only), codepoints as
    chars. Returns the ``winnow_fingerprints`` row
    ``(n_chars, n_kgrams, n_fps, fps)`` with ``fps`` the ``pos:hash``
    selections (1-based k-gram position) in position order."""
    import re

    if text is None:
        return (None, 0, 0, "")
    mod, base = 1_000_000_007, 131
    s = re.sub(JAVA_WS, " ", text.lower()).strip(" ")
    hashes = []
    for i in range(max(len(s) - k + 1, 0)):
        acc = 0
        for ch in s[i:i + k]:
            acc = (acc * base + ord(ch)) % mod
        hashes.append(acc)
    picks = set()
    for j in range(max(len(hashes) - w + 1, 1) if hashes else 0):
        win = hashes[j:j + w]
        mn = min(win)
        right = len(win) - 1 - win[::-1].index(mn)  # rightmost min
        picks.add((j + right + 1, mn))
    fps = ",".join(f"{p}:{h}" for p, h in sorted(picks))
    return (len(s), len(hashes), len(picks), fps)


def fps_pairs(fps: str) -> list[tuple[int, int]]:
    """``winnow_fingerprints.fps`` decoded to ``(pos, hash)`` pairs."""
    return [tuple(map(int, c.split(":"))) for c in fps.split(",") if c]


def midpoint_corpus() -> list[float]:
    """Adversarial 4dp-midpoint doubles (the 121 exact midpoints
    (2k+1)*5e-5 for |k| <= 60 — including 0.00015 == 3/20000 at k=1 —
    plus 7 literals) and each value's two representable neighbors:
    384 cases, no duplicates. The set where DuckDB's binary round and
    Spark's BigDecimal string round genuinely diverge (the original
    r08 probe measured 18 divergences on its 381-case variant)."""
    cases = []
    for k in range(-60, 61):
        m = (2 * k + 1) * 0.00005
        cases += [m, float(np.nextafter(m, -np.inf)),
                  float(np.nextafter(m, np.inf))]
    for v in [0.12345, -0.12345, 2.00005, -2.00005, 0.99995, -0.99995,
              12345.00005]:
        cases += [v, float(np.nextafter(v, -np.inf)),
                  float(np.nextafter(v, np.inf))]
    assert len(cases) == len(set(cases)) == 384
    return cases


def bigdecimal_round(x: float, s: int = 4) -> float:
    """Reference for Spark F.round on DOUBLE: BigDecimal.valueOf goes
    through Double.toString (shortest round-trip repr — identical to
    Python repr), HALF_UP, no signed zero. Verified against REAL
    PySpark F.round in
    test_oracle_parity.TestRoundConformance.test_spark_round_matches_reference."""
    if not math.isfinite(x):
        return float(x)  # Spark rounds NaN and infinities to themselves
    q = Decimal(1).scaleb(-s)
    return float(Decimal(repr(float(x))).quantize(
        q, rounding=ROUND_HALF_UP)) + 0.0


def spark_key(x: float) -> tuple:
    """Sort key of a DOUBLE in Spark's ordering: NaN above every number
    (Python's ``<`` is false both ways for NaN)."""
    return (1, 0.0) if math.isnan(x) else (0, x)


def cosine_replay(a, b) -> float:
    """``similarity.cosine`` in pure Python: dot and squared norms fold
    left to right from 0.0 in double, the divisor is the product of the
    two square roots, and a zero divisor, a length mismatch (Spark's
    ``zip_with`` pads the shorter side with NULLs) or a NULL element
    (NULL arithmetic) gives 0.0; a NaN element gives NaN."""
    if len(a) != len(b) or None in a or None in b:
        return 0.0
    dot = na = nb = 0.0
    for x, y in zip(a, b):
        dot += x * y
    for x in a:
        na += x * x
    for y in b:
        nb += y * y
    den = math.sqrt(na) * math.sqrt(nb)
    return dot / den if den != 0 else 0.0


def ivf_replay(rows, centroids) -> dict:
    """``similarity.ivf_assign`` in pure Python over ``(id, vec)`` rows
    and ``(centroid_id, vec)`` centroids: NULL vectors are skipped, and
    each row goes to its best 4dp-rounded cosine in Spark's ordering
    (NaN highest), ties to the lowest centroid id. Returns
    ``{id: (centroid_id, centroid_cos)}``."""
    out = {}
    for i, v in rows:
        if v is None:
            continue
        best = None
        for cid, c in sorted(centroids):
            score = bigdecimal_round(cosine_replay(v, c))
            if best is None or spark_key(score) > spark_key(best[1]):
                best = (cid, score)
        out[i] = best
    return out


def semdedup_replay(rows, centroids, threshold: float) -> dict:
    """``dedup.semdedup`` in pure Python over ``(id, vec)`` rows and
    ``(centroid_id, vec)`` centroids: the :func:`ivf_replay` assignment,
    then a member is dropped when another member of its cluster has
    rounded cosine >= ``threshold`` to it and ranks before it (lower
    centroid cosine, then lower id), in Spark's ordering (NaN highest).
    Returns ``{id: (centroid_id, centroid_cos, is_kept)}``."""
    rows = [(i, v) for i, v in rows if v is not None]
    if not centroids:
        return {i: (None, None, True) for i, _ in rows}
    vecs = dict(rows)
    assigned = ivf_replay(rows, centroids)
    dropped = set()
    for a, (ca, sa) in assigned.items():
        for b, (cb, sb) in assigned.items():
            if (ca == cb and a != b
                    and (spark_key(sa), a) < (spark_key(sb), b)
                    and spark_key(bigdecimal_round(
                        cosine_replay(vecs[a], vecs[b]))) >= spark_key(threshold)):
                dropped.add(b)
    return {i: (c, s, i not in dropped) for i, (c, s) in assigned.items()}


def repetition_replay(text: str | None) -> tuple:
    """``text.repetition_metrics`` for one doc in pure Python: tokens are
    the non-empty pieces of the lowercased text split on ``[^a-z0-9]+``,
    and each n = 1, 2, 3 scores ``round(1 - distinct/total, 4)`` over its
    n-grams, 0.0 when there are none."""
    import re

    toks = [t for t in re.split("[^a-z0-9]+", (text or "").lower()) if t]
    out = []
    for n in (1, 2, 3):
        grams = [" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)]
        out.append(bigdecimal_round(1.0 - len(set(grams)) / len(grams))
                   if grams else 0.0)
    return tuple(out)


def covariance_replay(vectors) -> dict:
    """``similarity.embedding_covariance`` in pure Python, as Spark's
    ``sum``/``count(*)`` compute it over each vector's ``(i, j)`` pairs
    (``i <= j < len``; NULL and empty vectors add none): a NULL term is
    skipped by the sums but its row counts in n, a cell with no non-NULL
    term is NULL, and NaN propagates. Returns ``{(i, j): (n, cov)}``."""
    def add(acc, x):
        return acc if x is None else x if acc is None else acc + x

    sums: dict = {}
    for v in vectors:
        for i in range(len(v or ())):
            for j in range(i, len(v)):
                n, sp, si, sj = sums.get((i, j), (0, None, None, None))
                p = None if v[i] is None or v[j] is None else v[i] * v[j]
                sums[(i, j)] = (n + 1, add(sp, p), add(si, v[i]), add(sj, v[j]))
    return {
        k: (n, None if None in (sp, si, sj)
            else bigdecimal_round(sp / n - (si / n) * (sj / n)))
        for k, (n, sp, si, sj) in sums.items()
    }


def lsh_replay(vec, planes: int, tables: int) -> list[str]:
    """``similarity.lsh_signer`` for one vector in pure Python: table t's
    bit p is the sign of the projection on hyperplane ``t*planes + p``
    (element d is +1 when md5("plane:d")'s first hex digit is >= 8, else
    -1), folded left to right from 0.0 over the vector's own elements. A
    NULL element makes the projection NULL (bit 0); NaN counts as >= 0
    (bit 1), as Spark orders it."""
    import hashlib

    out = []
    for t in range(tables):
        bits = ""
        for p in range(t * planes, (t + 1) * planes):
            acc = 0.0
            for d, x in enumerate(vec):
                if x is None:
                    acc = None
                    break
                h = int(hashlib.md5(f"{p}:{d}".encode()).hexdigest()[0], 16)
                acc += x * (1.0 if h >= 8 else -1.0)
            bits += "1" if acc is not None and (acc >= 0 or math.isnan(acc)) else "0"
        out.append(bits)
    return out


_XXP1, _XXP2, _XXP3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
_XXP4, _XXP5, _M64 = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5, (1 << 64) - 1


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _xxh64_round(acc: int, lane: int) -> int:
    return _rotl64((acc + lane * _XXP2) & _M64, 31) * _XXP1 & _M64


def xxh64(data: bytes, seed: int) -> int:
    """XXH64 (the public xxHash spec) of ``data``, unsigned."""
    n, i, seed = len(data), 0, seed & _M64

    def word(k: int) -> int:
        return int.from_bytes(data[i:i + k], "little")

    if n >= 32:
        v = [(seed + _XXP1 + _XXP2) & _M64, (seed + _XXP2) & _M64, seed,
             (seed - _XXP1) & _M64]
        while i + 32 <= n:
            for j in range(4):
                v[j] = _xxh64_round(v[j], word(8))
                i += 8
        h = sum(_rotl64(x, r) for x, r in zip(v, (1, 7, 12, 18))) & _M64
        for x in v:
            h = ((h ^ _xxh64_round(0, x)) * _XXP1 + _XXP4) & _M64
    else:
        h = (seed + _XXP5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h = (_rotl64(h ^ _xxh64_round(0, word(8)), 27) * _XXP1 + _XXP4) & _M64
        i += 8
    if i + 4 <= n:
        h = (_rotl64(h ^ (word(4) * _XXP1 & _M64), 23) * _XXP2 + _XXP3) & _M64
        i += 4
    for b in data[i:]:
        h = _rotl64(h ^ (b * _XXP5 & _M64), 11) * _XXP1 & _M64
    for shift, prime in ((33, _XXP2), (29, _XXP3)):
        h = ((h ^ (h >> shift)) * prime) & _M64
    return h ^ (h >> 32)


def spark_xxhash64(i: int, s: str) -> int:
    """Spark's ``xxhash64(lit(i), s)`` for an int ``i`` and a string
    ``s``: the children hash in order from seed 42, each result seeding
    the next, an int as its 4 little-endian bytes and a string as its
    UTF-8 bytes; the result is a signed long."""
    h = xxh64(s.encode("utf-8"), xxh64((i & 0xFFFFFFFF).to_bytes(4, "little"), 42))
    return h - (1 << 64) if h >= 1 << 63 else h
