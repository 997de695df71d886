"""String-similarity functions DuckDB ships natively but Spark lacks:
``jaro_similarity``, ``jaro_winkler_similarity``, ``damerau_levenshtein``
(reference exposes them through DuckDB's function library; e.g. DuckDB
docs list them under text functions).

No Spark builtin exists, and the algorithms are per-pair dynamic
programming — not expressible in vectorized SQL. They are registered as
Arrow-batched pandas UDFs: batches cross the Python boundary via Arrow,
the DP runs per row in Python. That makes them the ONLY per-row Python
compute in the engine; they are documented as such (COVERAGE.md) and
cost ~1-5 us/pair, fine for match/dedup workloads, and they distribute
like any other UDF (no driver collect, no shuffle of their own).

Semantics verified differentially against DuckDB in
tests/test_text_udfs.py, including the full (unrestricted)
Damerau-Levenshtein — DuckDB's ``damerau_levenshtein('ca','abc') = 2``
rules out the cheaper OSA variant.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.functions import pandas_udf


def jaro(s1: str, s2: str) -> float:
    l1, l2 = len(s1), len(s2)
    if l1 == 0 or l2 == 0:
        return 0.0  # DuckDB: empty input is 0, even for ('','')
    if s1 == s2:
        return 1.0
    match_dist = max(l1, l2) // 2 - 1
    m1 = [False] * l1
    m2 = [False] * l2
    matches = 0
    for i, c in enumerate(s1):
        lo = max(0, i - match_dist)
        hi = min(l2, i + match_dist + 1)
        for j in range(lo, hi):
            if not m2[j] and s2[j] == c:
                m1[i] = m2[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    t = 0
    k = 0
    for i in range(l1):
        if m1[i]:
            while not m2[k]:
                k += 1
            if s1[i] != s2[k]:
                t += 1
            k += 1
    t //= 2
    return (matches / l1 + matches / l2 + (matches - t) / matches) / 3.0


def jaro_winkler(s1: str, s2: str, p: float = 0.1, threshold: float = 0.7) -> float:
    j = jaro(s1, s2)
    if j <= threshold:
        return j
    prefix = 0
    for a, b in zip(s1[:4], s2[:4]):
        if a != b:
            break
        prefix += 1
    return j + prefix * p * (1.0 - j)


def damerau_levenshtein(a: str, b: str) -> int:
    """Full (unrestricted) Damerau-Levenshtein — transpositions may have
    intervening edits, matching DuckDB."""
    la, lb = len(a), len(b)
    if la == 0:
        return lb
    if lb == 0:
        return la
    maxdist = la + lb
    da: dict[str, int] = {}
    d = [[0] * (lb + 2) for _ in range(la + 2)]
    d[0][0] = maxdist
    for i in range(la + 1):
        d[i + 1][0] = maxdist
        d[i + 1][1] = i
    for j in range(lb + 1):
        d[0][j + 1] = maxdist
        d[1][j + 1] = j
    for i in range(1, la + 1):
        db = 0
        for j in range(1, lb + 1):
            k = da.get(b[j - 1], 0)
            l = db
            if a[i - 1] == b[j - 1]:
                cost = 0
                db = j
            else:
                cost = 1
            d[i + 1][j + 1] = min(
                d[i][j] + cost,
                d[i + 1][j] + 1,
                d[i][j + 1] + 1,
                d[k][l] + (i - 1 - k) + 1 + (j - 1 - l),
            )
        da[a[i - 1]] = i
    return d[la + 1][lb + 1]


def levenshtein(a: bytes, b: bytes) -> int:
    """Plain Levenshtein over bytes (no transpositions) — the non-ASCII
    fallback for DuckDB's byte-based builtin; the dialect layer
    dispatches ASCII pairs to Spark's JVM builtin."""
    la, lb = len(a), len(b)
    if la == 0:
        return lb
    if lb == 0:
        return la
    prev = list(range(lb + 1))
    for i in range(1, la + 1):
        cur = [i] + [0] * lb
        ai = a[i - 1]
        for j in range(1, lb + 1):
            cur[j] = min(
                prev[j] + 1,
                cur[j - 1] + 1,
                prev[j - 1] + (ai != b[j - 1]),
            )
        prev = cur
    return prev[lb]


def _pairwise(fn, a: pd.Series, b: pd.Series, null):
    # DuckDB runs these over UTF-8 BYTES, not codepoints ('résumé' vs
    # 'resume' gives the 8-vs-6-length jaro) — encode before the DP
    return pd.Series(
        [
            null
            if x is None or y is None
            else fn(x.encode("utf-8"), y.encode("utf-8"))
            for x, y in zip(a, b)
        ],
        dtype="object",
    )


def age_interval(dt1, dt2) -> str:
    """Postgres/DuckDB ``age(dt1, dt2)``: field-wise calendar difference
    with unit borrowing (days borrow days-in-month of the EARLIER
    operand's month), rendered as DuckDB's INTERVAL->VARCHAR text
    ('43 years 9 months 27 days', '-1 month -22:44:45.123456',
    '00:00:00' for equal inputs). Verified differentially against
    DuckDB in tests/test_text_udfs.py."""
    import calendar

    neg = dt1 < dt2
    a, b = (dt2, dt1) if neg else (dt1, dt2)
    us = a.microsecond - b.microsecond
    s = a.second - b.second
    mi = a.minute - b.minute
    h = a.hour - b.hour
    d = a.day - b.day
    mo = a.month - b.month
    y = a.year - b.year
    if us < 0:
        us += 1_000_000
        s -= 1
    if s < 0:
        s += 60
        mi -= 1
    if mi < 0:
        mi += 60
        h -= 1
    if h < 0:
        h += 24
        d -= 1
    while d < 0:
        d += calendar.monthrange(b.year, b.month)[1]
        mo -= 1
    while mo < 0:
        mo += 12
        y -= 1
    sign = "-" if neg else ""
    parts = []
    if y:
        parts.append(f"{sign}{y} year" + ("s" if y != 1 else ""))
    if mo:
        parts.append(f"{sign}{mo} month" + ("s" if mo != 1 else ""))
    if d:
        parts.append(f"{sign}{d} day" + ("s" if d != 1 else ""))
    if h or mi or s or us or not parts:
        frac = f".{us:06d}".rstrip("0") if us else ""
        parts.append(f"{sign}{h:02d}:{mi:02d}:{s:02d}{frac}")
    return " ".join(parts)


def grapheme_split(s: str) -> list:
    """Split into extended grapheme clusters (simplified UAX #29: CRLF,
    combining marks Mn/Mc/Me, ZWJ sequences, variation selectors, and
    regional-indicator pairs — the segments DuckDB's utf8proc-backed
    ``*_grapheme`` functions produce for real-world text). Verified
    differentially against DuckDB in tests/test_text_udfs.py."""
    import unicodedata

    if s.isascii() and "\r" not in s:
        # ASCII fast path: no combining marks, ZWJ, or flag pairs
        # possible; each char is its own cluster (CR LF is the one
        # ASCII multi-char cluster, checked above)
        return list(s)
    clusters = []
    i = 0
    n = len(s)
    while i < n:
        j = i + 1
        if s[i] == "\r" and j < n and s[j] == "\n":
            j += 1
        elif (
            0x1F1E6 <= ord(s[i]) <= 0x1F1FF
            and j < n
            and 0x1F1E6 <= ord(s[j]) <= 0x1F1FF
        ):
            j += 1  # regional-indicator pair (flag)
        while j < n:
            c = s[j]
            if (
                unicodedata.category(c) in ("Mn", "Mc", "Me")
                or c == "\u200d"
                or 0xFE00 <= ord(c) <= 0xFE0F
            ):
                j += 1
                if c == "\u200d" and j < n:
                    j += 1  # emoji ZWJ sequence: attach the joined char
                continue
            break
        clusters.append(s[i:j])
        i = j
    return clusters


def substring_units(units: list, start: int, length: int) -> str:
    """DuckDB ``substring_grapheme`` axis semantics over a pre-split
    unit list: 0-based begin = start-1 for start >= 0 (so start 0
    consumes one unit of length), and for negative start counts from
    the end CLAMPED to the front keeping the full length —
    substring_grapheme('abcdef', -10, 4) = 'abcd' while plain
    substring gives '' (both verified)."""
    n = len(units)
    begin = start - 1 if start >= 0 else max(n + start, 0)
    end = begin + max(length, 0)
    return "".join(units[max(begin, 0): max(end, 0)])


def json_contains(haystack, needle) -> bool:
    """DuckDB (yyjson) ``json_contains``: MySQL-style containment at any
    depth of the haystack. Node-level rules: a needle array is contained
    in an array whose elements match each needle element; a scalar/object
    is contained in an array if some element contains it; a needle object
    is contained in an object carrying all its keys with contained
    values; scalars compare type-strictly (1.0 does not contain 1).
    Verified differentially against DuckDB in tests/test_text_udfs.py."""

    def match(h, n):
        if isinstance(n, list):
            if not isinstance(h, list):
                return False
            return all(any(match(x, e) for x in h) for e in n)
        if isinstance(h, list):
            return any(match(x, n) for x in h)
        if isinstance(n, dict):
            if not isinstance(h, dict):
                return False
            return all(k in h and match(h[k], n[k]) for k in n)
        # scalars are type-strict: 1.0 does not contain 1 (verified)
        return type(h) is type(n) and h == n

    def walk(h, n):
        if match(h, n):
            return True
        if isinstance(h, dict):
            return any(walk(v, n) for v in h.values())
        if isinstance(h, list):
            return any(walk(e, n) for e in h)
        return False

    return walk(haystack, needle)


_PRINTF_SPEC_RE = None
_BRACE_SPEC_RE = None


def _fmt_general_py(
    x: float, P: int, upper: bool = False, strip: bool = False
) -> str:
    """fmt's 'general' float presentation, reverse-engineered
    empirically (r10c probe matrices in COVERAGE.md): used by brace
    ``{:.P}`` typeless-precision placeholders and printf ``%.0g``.
    Rules: round to max(P,1) significant digits (exactly — via
    Python's correctly-rounded %.Qe); scientific iff exp < -4 or
    exp >= P (P=0: iff exp outside fmt's default [-4, 15] fixed
    range); fixed with exp >= 0 zero-pads the digit string to the
    point and appends '.0' when nothing follows the point (unless
    P=0); fixed with exp < 0 STRIPS trailing zeros and prints
    min(needed, P) leading zeros after the point — yes, capped at P:
    {:.2} of 0.00012345 really is '0.0012' in DuckDB, ten times the
    value; the cap is fmt's own behavior, replicated bug-for-bug."""
    import math

    Q = max(P, 1)
    s = "%.*e" % (Q - 1, x)
    mant, _, es = s.partition("e")
    exp = int(es)
    neg = mant.startswith("-")
    digits = mant.lstrip("-").replace(".", "")
    if P == 0 and x != 0.0 and math.isfinite(x):
        # fmt P=0 tie-keep quirk (probed: {:.0}/'%.0g' of 3.5 -> '3.5',
        # 45.0 -> '45', 6500.0 -> '6500', 4.5e16 -> '4.5e+16'): when
        # the remainder past the FIRST significant digit is EXACTLY
        # half that digit's place value — only possible for exactly-
        # representable halves — fmt keeps both digits instead of
        # rounding. Detected exactly on the binary rational.
        from fractions import Fraction

        f = Fraction(abs(x))
        e10 = math.floor(math.log10(abs(x)))
        p = Fraction(10) ** e10
        while f < p:
            e10 -= 1
            p /= 10
        while f >= p * 10:
            e10 += 1
            p *= 10
        d1 = int(f / p)
        if (f - d1 * p) * 2 == p:
            digits = f"{d1}5"
            exp = e10
    if P == 0:
        sci = exp < -4 or exp > 15
    else:
        sci = exp < -4 or exp >= P
    if sci:
        if strip:
            digits = digits.rstrip("0") or "0"
        if (P == 0 or strip) and len(digits) > 1:
            out = f"{digits[0]}.{digits[1:]}e%+03d" % exp
        elif strip:
            out = f"{digits[0]}e%+03d" % exp
        else:
            out = s.lstrip("-")
    elif exp >= 0:
        if strip:
            digits = digits.rstrip("0") or "0"
        d = digits.ljust(exp + 1, "0")
        int_part, frac = d[: exp + 1], d[exp + 1:]
        if frac:
            out = int_part + "." + frac
        elif P == 0 or strip:
            out = int_part
        else:
            out = int_part + ".0"
    else:
        nz = -exp - 1
        digs = digits.rstrip("0") or "0"
        out = "0." + "0" * min(nz, P) + digs
    if neg:
        out = "-" + out
    return out.upper() if upper else out


def _duck_printf_py(spec: str, x: float) -> str:
    """fmt-exact rendering of ONE float printf directive (r10c):
    Python's C-exact ``%`` formatting IS fmt's printf for f/F/e/E/g/G —
    correctly rounded from the exact binary value (Java's Formatter
    rounds the SHORTEST repr half-up: '%.2f' of 1.005 -> '1.01' vs
    fmt '1.00', pads zeros past the shortest digits on '%.20f', and
    its '%g' never strips trailing zeros or switches notation at C's
    thresholds) — probed equal over a 238-case battery incl. ties,
    signs, widths, nan/inf. One fmt quirk replicated by hand: the '0'
    flag right-pads nan/inf with ZEROS ('%08.1f' of -inf ->
    '-inf0000', both printf and brace-format). Documented boundary
    (COVERAGE.md): fixed-notation |x| past ~1e66 prints the exact
    binary expansion where fmt's grisu64 pads approximation digits
    after ~20 correct ones."""
    global _PRINTF_SPEC_RE, _BRACE_SPEC_RE
    if _PRINTF_SPEC_RE is None:
        import re as _re

        _PRINTF_SPEC_RE = _re.compile(r"%([-+ 0]*)(\d*)(\.(\d+))?([fFeEgG])")
        _BRACE_SPEC_RE = _re.compile(r"\{:(\d*)\.(\d+)\}")
    import math

    def pad(out, flags, width):
        w = int(width or 0)
        if len(out) >= w:
            return out
        if "-" in flags:
            return out.ljust(w)
        if "0" in flags:
            if math.isnan(x) or math.isinf(x):
                # fmt quirk: zero-fill pads nan/inf on the RIGHT
                return out + "0" * (w - len(out))
            if out and out[0] in "+- ":
                return out[0] + out[1:].rjust(w - 1, "0")
            return out.rjust(w, "0")
        return out.rjust(w)

    bm = _BRACE_SPEC_RE.fullmatch(spec)
    if bm is not None:
        # typeless-precision brace placeholder {:W.P} — general
        # presentation, numeric right-align, leading-0 width zero-fills
        width, prec = bm.groups()
        zero = width.startswith("0") and len(width) > 1
        if math.isnan(x) or math.isinf(x):
            out = "nan" if math.isnan(x) else "inf"
            if math.copysign(1.0, x) < 0 and not math.isnan(x):
                out = "-" + out
            # typeless brace nan/inf LEFT-aligns (space fill) like a
            # string — zero-fill keeps the right-pad quirk
            return pad(out, "0" if zero else "-", width or "")
        out = _fmt_general_py(x, int(prec))
        return pad(out, "0" if zero else "", width or "")

    m = _PRINTF_SPEC_RE.fullmatch(spec)
    if m is not None:
        flags, width, _, prec, typ = m.groups()
        # fmt flag quirk: when both '+' and ' ' are given, the LAST
        # one wins (C and Python let '+' win regardless of order)
        if "+" in flags and " " in flags:
            drop = "+" if flags.rindex(" ") > flags.rindex("+") else " "
            flags = flags.replace(drop, "")
        if typ in "gG" and prec is not None:
            # fmt's precision-ed %g is its 'general' renderer with
            # zero-stripping, NOT C's %g: %.0g is general-with-
            # default-notation ('%.0g' of 973.1 is '1000', not
            # '1e+03'; exact-half ties keep both digits), and the
            # fixed-notation leading zeros are CAPPED at P at every
            # precision ('%.1g' of -0.0049 is '-0.05', 10x the value)
            if math.isnan(x) or math.isinf(x):
                out = "nan" if math.isnan(x) else "inf"
                if math.copysign(1.0, x) < 0 and not math.isnan(x):
                    out = "-" + out
                if typ == "G":
                    out = out.upper()
            else:
                out = _fmt_general_py(
                    x, int(prec), upper=typ == "G", strip=True
                )
            if not out.startswith("-"):
                if "+" in flags:
                    out = "+" + out
                elif " " in flags:
                    out = " " + out
            return pad(out, flags, width)
        spec = "%" + flags + (width or "") + (f".{prec}" if prec
                                              is not None else "") + typ
        if math.isnan(x) or math.isinf(x):
            if "0" in flags and "-" not in flags:
                base = (
                    "%" + flags.replace("0", "")
                    + (f".{prec}" if prec is not None else "") + typ
                ) % x
                return base + "0" * max(0, int(width or 0) - len(base))
    return spec % x


_U64_MAX = 2**64 - 1
_I64_MIN = -(2**63)


def json_structure(value) -> object:
    """DuckDB ``json_structure`` (as a Python structure; the UDF dumps
    it compact): scalars map to type-name strings (non-negative int
    UBIGINT, negative BIGINT, out-of-64-bit-range or float DOUBLE, bool
    BOOLEAN, str VARCHAR, null NULL); arrays merge element structures
    (numeric widening UBIGINT<BIGINT<DOUBLE, NULL yields to anything,
    objects merge key-wise, anything inconsistent collapses to "JSON");
    an empty object is "JSON", an empty array ["NULL"]. Verified
    differentially against DuckDB in tests/test_text_udfs.py."""

    def merge(a, b):
        if a == b:
            return a
        if a == "NULL":
            return b
        if b == "NULL":
            return a
        order = {"UBIGINT": 0, "BIGINT": 1, "DOUBLE": 2}
        if isinstance(a, str) and isinstance(b, str):
            if a in order and b in order:
                return a if order[a] >= order[b] else b
            return "JSON"
        if isinstance(a, dict) and isinstance(b, dict):
            out = dict(a)
            for k, v in b.items():
                out[k] = merge(out[k], v) if k in out else v
            return out
        if isinstance(a, list) and isinstance(b, list):
            return [merge(a[0], b[0])]
        return "JSON"

    def structure(v):
        if isinstance(v, bool):
            return "BOOLEAN"
        if isinstance(v, int):
            if 0 <= v <= _U64_MAX:
                return "UBIGINT"
            if _I64_MIN <= v < 0:
                return "BIGINT"
            return "DOUBLE"
        if isinstance(v, float):
            return "DOUBLE"
        if isinstance(v, str):
            return "VARCHAR"
        if v is None:
            return "NULL"
        if isinstance(v, list):
            if not v:
                return ["NULL"]
            acc = structure(v[0])
            for e in v[1:]:
                acc = merge(acc, structure(e))
            return [acc]
        if isinstance(v, dict):
            if not v:
                return "JSON"
            return {k: structure(x) for k, x in v.items()}
        return "JSON"

    return structure(value)


def _yyjson_float_repr(d: float) -> str:
    """Render a double exactly like DuckDB's yyjson writer: shortest
    round-trip digits (Python repr is shortest too), plain decimal
    with a ``.0`` integer suffix for decimal exponents in [-6, 20],
    otherwise ``<digits>e<exp>`` — lowercase, unsigned-positive,
    unpadded exponent, no ``.0`` on integer mantissas."""
    m = repr(d)
    if "e" not in m:
        return m
    mant, exp = m.split("e")
    n = int(exp)
    neg = mant.startswith("-")
    if neg:
        mant = mant[1:]
    head, _, frac = mant.partition(".")
    digits = head + (frac if frac not in ("", "0") else "")
    if -6 <= n <= 20:
        ln = len(digits)
        if n + 1 >= ln:
            body = digits + "0" * (n + 1 - ln) + ".0"
        elif n >= 0:
            body = digits[: n + 1] + "." + digits[n + 1:]
        else:
            body = "0." + "0" * (-n - 1) + digits
    else:
        mm = head if frac in ("", "0") else head + "." + frac
        body = f"{mm}e{n}"
    return ("-" if neg else "") + body


def _round_digits_half_up(digits: str, k: int):
    """Digit string rounded to ``k`` digits HALF_UP; returns
    ``(rounded, bump)`` with bump=1 on a decade overflow (999->100)."""
    if k >= len(digits):
        return digits + "0" * (k - len(digits)), 0
    keep = list(digits[:k])
    if digits[k] >= "5":
        i = k - 1
        while i >= 0:
            if keep[i] == "9":
                keep[i] = "0"
                i -= 1
            else:
                keep[i] = chr(ord(keep[i]) + 1)
                break
        else:
            return "1" + "0" * (k - 1), 1
    return "".join(keep), 0


def _java_shortest_candidate(s: str) -> str:
    """First ``%.Pe`` rendering (P ascending from 0) of the double
    whose JAVA ``Double.toString`` E-form text is ``s`` that
    round-trips — exactly what ``dialect._shortest_double_core_sql``'s
    candidate search computes with JVM ``format_string``. Java's ``%e``
    does NOT round the exact binary expansion (C printf semantics):
    it rounds the shortest-repr DIGIT STRING half-up and zero-pads
    past it, so the search is replicated textually over ``s``'s own
    digits (verified against format_string on 100k random doubles)."""
    d = float(s)
    mant, exp = s.split("E")
    n0 = int(exp)
    neg = mant.startswith("-")
    if neg:
        mant = mant[1:]
    head, _, frac = mant.partition(".")
    digits = (head + frac).rstrip("0") or "0"
    def build(c: str, n: int) -> str:
        body = c[0] + ("." + c[1:] if len(c) > 1 else "")
        return (
            ("-" if neg else "")
            + body
            + f"e{'+' if n >= 0 else '-'}{abs(n):02d}"
        )

    for p in range(18):
        c, bump = _round_digits_half_up(digits, p + 1)
        n = n0 + bump
        cand = build(c, n)
        if float(cand) == d:
            return cand
        # r10c neighbor probe (mirrors the SQL cascade): Java's
        # digit-string half-up rounding can land one last-digit step
        # from the correctly-rounded candidate
        ci2 = int(c) + (1 if abs(float(cand)) < abs(d) else -1)
        if len(str(ci2)) == p + 1:
            cand2 = build(str(ci2), n)
            if float(cand2) == d:
                return cand2
    return s  # unreachable: the full digit string round-trips


def _sql_shortest_candidate(s: str) -> str:
    """Twin of the r10c SQL candidate cascade: up to ~1e38 the SQL's
    neighbor probes + dense-band closest arithmetic (BIGINT band
    below 2^63, m53*2^a/5^s DECIMAL band to exp 38) land on the true
    shortest round-trip repr — exactly Python's repr (Dragonbox) — so
    the twin renders from repr digits; at exp >= 39 the dense
    17-digit choice exceeds DECIMAL(38) arithmetic and the SQL keeps
    the Java-first pick, so the twin keeps the textual Java candidate
    search (with the same +-1 neighbor) to stay byte-identical."""
    d = float(s)
    if abs(d) >= 1e39:
        return _java_shortest_candidate(s)
    r = repr(abs(d))
    if "e" in r:
        mant, _, exp = r.partition("e")
        n = int(exp)
        digits = mant.replace(".", "").rstrip("0") or "0"
    else:
        intpart, _, frac = r.partition(".")
        if intpart != "0":
            n = len(intpart) - 1
            digits = (intpart + frac).rstrip("0") or "0"
        else:
            stripped = frac.lstrip("0")
            n = -(len(frac) - len(stripped)) - 1
            digits = stripped.rstrip("0") or "0"
            if digits == "0":
                n = 0
    body = digits[0] + ("." + digits[1:] if len(digits) > 1 else "")
    return (
        ("-" if d < 0 or s.startswith("-") else "")
        + body
        + f"e{'+' if n >= 0 else '-'}{abs(n):02d}"
    )


def _fmt_shortest_repr(s: str, lo: int, hi: int, yy: bool) -> str:
    """Python twin of ``dialect._shortest_double_core_sql``'s reshape
    over a Java ``Double.toString`` E-form text: the r10c candidate
    cascade (see _sql_shortest_candidate), then plain decimal for
    decimal exponents in [lo, hi], else the scientific form — fmt
    style keeps the ``e±NN`` candidate verbatim, yyjson style
    lowercases to ``<digits>e<exp>`` without ``+``/padding or integer
    ``.0``."""
    c = _sql_shortest_candidate(s)
    mant, exp = c.split("e")
    n = int(exp)
    neg = mant.startswith("-")
    if neg:
        mant = mant[1:]
    head, _, frac = mant.partition(".")
    digits = head + frac
    if lo <= n <= hi:
        ln = len(digits)
        if n + 1 >= ln:
            body = digits + "0" * (n + 1 - ln) + ".0"
        elif n >= 0:
            body = digits[: n + 1] + "." + digits[n + 1:]
        else:
            body = "0." + "0" * (-n - 1) + digits
        return ("-" if neg else "") + body
    if yy:
        mm = head if frac in ("", "0") else head + "." + frac
        return ("-" if neg else "") + f"{mm}e{n}"
    return c


def duck_render_varchar(s, t):
    """DuckDB-exact VARCHAR rendering of a value given its Spark
    ``CAST(x AS STRING)`` text ``s`` and ``typeof(x)`` ``t`` — the
    Python twin of ``dialect._varchar_cast_sql``, emitted INSIDE
    arguments of this module's Python UDFs where the SQL template's
    higher-order lambdas break Spark's Python-UDF extraction (the UDF
    is left in the projection and fails codegen AND interpretation).
    A chained Python UDF extracts fine."""
    if s is None:
        return None
    if t not in ("double", "float"):
        return s
    if s == "NaN":
        return "nan"
    if s == "Infinity":
        return "inf"
    if s == "-Infinity":
        return "-inf"
    if "E" not in s:
        return s
    return _fmt_shortest_repr(s, -4, 15, yy=False)


def yyjson_render_json(txt):
    """Re-render a JSON text exactly as DuckDB's yyjson writer would:
    compact separators, source key order, integers in int64/uint64
    range as integer text, every other number through the
    shortest-round-trip double writer. Used for extracted
    object/array values whose text contains constructs the
    source-faithful get_json_object rendering would diverge on
    (scientific notation, huge integers, non-shortest fractions)."""
    import json

    if txt is None:
        return None
    try:
        v = json.loads(txt)
    except Exception:  # noqa: BLE001 — non-JSON text passes through
        return txt

    def num(x):
        if isinstance(x, int):
            if _I64_MIN <= x <= _U64_MAX:
                return str(x)
            return _yyjson_float_repr(float(x))
        return _yyjson_float_repr(x)

    def render(x):
        if x is None:
            return "null"
        if x is True:
            return "true"
        if x is False:
            return "false"
        if isinstance(x, (int, float)):
            return num(x)
        if isinstance(x, str):
            return json.dumps(x, ensure_ascii=False)
        if isinstance(x, list):
            return "[" + ",".join(render(e) for e in x) + "]"
        return "{" + ",".join(
            json.dumps(k, ensure_ascii=False) + ":" + render(e)
            for k, e in x.items()
        ) + "}"

    return render(v)


def _memo_map(fn, *cols: pd.Series) -> pd.Series:
    """Evaluate a pure per-row function once per DISTINCT argument tuple
    of the batch and fan the results back out (object dtype, None for
    any-None rows). Repeated-value-heavy inputs (categorical columns,
    literal arguments, JSON property blobs) collapse the per-row Python
    cost to O(distinct) — measured 100 distinct over 100k rows on the
    events.props column (guide §4.2: make the batch work vectorized /
    sublinear, not the boundary). Worst case (all distinct) adds one
    dict probe per row.

    Float keys: -0.0 == 0.0 and they hash alike, so a batch holding
    both would replay the first-seen rendering for the other and break
    the engine-exact signed-zero contract — zero float keys carry
    their copysign in the memo key (r13 ADVICE). NaN keys never hit
    (NaN != NaN), so NaN rows just evaluate ``fn`` directly."""
    import math

    memo: dict = {}
    out = []
    if len(cols) == 1:
        for v in cols[0]:
            if v is None:
                out.append(None)
                continue
            k = (
                (v, math.copysign(1.0, v))
                if isinstance(v, float) and v == 0.0
                else v
            )
            try:
                r = memo[k]
            except KeyError:
                r = memo[k] = fn(v)
            except TypeError:  # unhashable value — evaluate directly
                r = fn(v)
            out.append(r)
    else:
        for key in zip(*cols):
            if any(v is None for v in key):
                out.append(None)
                continue
            k = tuple(
                (v, math.copysign(1.0, v))
                if isinstance(v, float) and v == 0.0
                else v
                for v in key
            )
            try:
                r = memo[k]
            except KeyError:
                r = memo[k] = fn(*key)
            except TypeError:
                r = fn(*key)
            out.append(r)
    return pd.Series(out, dtype="object")


def _build_text_udfs() -> dict:
    """Construct the session-independent pandas UDF objects, once per
    process (see ``register_text_udfs``): building ~40 wrappers and
    cloudpickling their closures costs ~1.5 s, which the bench's
    per-workload ``newSession()`` clones used to pay on every
    registration. The wrappers hold no session state (the one that
    does — ``current_setting`` — is built per session), and a pandas
    UDF's JVM handle is context-scoped, so re-registering the same
    object on a session clone is a single catalog call."""

    @pandas_udf("double")
    def _jaro_udf(a: pd.Series, b: pd.Series) -> pd.Series:
        return _pairwise(jaro, a, b, None).astype("float64")

    @pandas_udf("double")
    def _jw_udf(a: pd.Series, b: pd.Series) -> pd.Series:
        return _pairwise(jaro_winkler, a, b, None).astype("float64")

    @pandas_udf("long")
    def _dl_udf(a: pd.Series, b: pd.Series) -> pd.Series:
        return _pairwise(damerau_levenshtein, a, b, None).astype("Int64")

    @pandas_udf("long")
    def _lev_udf(a: pd.Series, b: pd.Series) -> pd.Series:
        return _pairwise(levenshtein, a, b, None).astype("Int64")

    import math

    def _num_pairwise(fn, a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series(
            [
                None if x is None or y is None else fn(int(x), int(y))
                for x, y in zip(a, b)
            ],
            dtype="object",
        )

    @pandas_udf("long")
    def _gcd_udf(a: pd.Series, b: pd.Series) -> pd.Series:
        return _num_pairwise(math.gcd, a, b).astype("Int64")

    @pandas_udf("long")
    def _lcm_udf(a: pd.Series, b: pd.Series) -> pd.Series:
        return _num_pairwise(math.lcm, a, b).astype("Int64")

    @pandas_udf("double")
    def _gamma_udf(x: pd.Series) -> pd.Series:
        return pd.Series(
            [None if v is None else math.gamma(v) for v in x],
            dtype="object",
        ).astype("float64")

    @pandas_udf("double")
    def _lgamma_udf(x: pd.Series) -> pd.Series:
        return pd.Series(
            [None if v is None else math.lgamma(v) for v in x],
            dtype="object",
        ).astype("float64")

    import unicodedata

    @pandas_udf("string")
    def _strip_accents_udf(x: pd.Series) -> pd.Series:
        return _memo_map(
            lambda v: "".join(
                c
                for c in unicodedata.normalize("NFD", v)
                if not unicodedata.combining(c)
            ),
            x,
        )

    @pandas_udf("double")
    def _nextafter_udf(a: pd.Series, b: pd.Series) -> pd.Series:
        # IEEE next representable double toward b (DuckDB nextafter)
        return pd.Series(
            [
                None if (x is None or y is None) else math.nextafter(x, y)
                for x, y in zip(a, b)
            ],
            dtype="object",
        ).astype("float64")

    @pandas_udf("string")
    def _nfc_normalize_udf(x: pd.Series) -> pd.Series:
        # DuckDB nfc_normalize(): Unicode NFC composition
        return _memo_map(lambda v: unicodedata.normalize("NFC", v), x)

    @pandas_udf("string")
    def _age_udf(a: pd.Series, b: pd.Series) -> pd.Series:
        # DATE inputs arrive as datetime.date objects; normalize so the
        # field algorithm sees uniform timestamp-like values
        def _norm(v):
            if v is None or v is pd.NaT:
                return None
            return pd.Timestamp(v)

        return pd.Series(
            [
                None
                if (x := _norm(x0)) is None or (y := _norm(y0)) is None
                else age_interval(x, y)
                for x0, y0 in zip(a, b)
            ],
            dtype="object",
        )

    @pandas_udf("long")
    def _length_grapheme_udf(s: pd.Series) -> pd.Series:
        return _memo_map(lambda v: len(grapheme_split(v)), s)

    def _sided_grapheme(side: str, s: pd.Series, n: pd.Series) -> pd.Series:
        # DuckDB left/right negative-count semantics: left(s, -k) drops
        # the last k clusters, right(s, -k) drops the first k
        def one(v, k):
            if v is None or k is None:
                return None
            u = grapheme_split(v)
            k = int(k)
            if side == "left":
                end = k if k >= 0 else max(len(u) + k, 0)
                return "".join(u[:end])
            start = max(len(u) - k, 0) if k >= 0 else min(-k, len(u))
            return "".join(u[start:])

        return _memo_map(one, s, n)

    @pandas_udf("string")
    def _left_grapheme_udf(s: pd.Series, n: pd.Series) -> pd.Series:
        return _sided_grapheme("left", s, n)

    @pandas_udf("string")
    def _right_grapheme_udf(s: pd.Series, n: pd.Series) -> pd.Series:
        return _sided_grapheme("right", s, n)

    @pandas_udf("string")
    def _substring_grapheme_udf(
        s: pd.Series, start: pd.Series, length: pd.Series
    ) -> pd.Series:
        return _memo_map(
            lambda v, b, l: substring_units(grapheme_split(v), int(b), int(l)),
            s, start, length,
        )

    @pandas_udf("boolean")
    def _json_contains_udf(h: pd.Series, n: pd.Series) -> pd.Series:
        import json

        def one(hv, nv):
            try:
                return json_contains(json.loads(hv), json.loads(nv))
            except ValueError as exc:  # mirror DuckDB's invalid-input error
                raise ValueError(f"json_contains: malformed JSON: {exc}")

        return _memo_map(one, h, n)

    @pandas_udf("string")
    def _json_structure_udf(j: pd.Series) -> pd.Series:
        import json

        def one(v):
            try:
                parsed = json.loads(v)
            except ValueError as exc:
                raise ValueError(f"json_structure: malformed JSON: {exc}")
            return json.dumps(
                json_structure(parsed), separators=(",", ":")
            )

        return _memo_map(one, j)

    @pandas_udf("string")
    def _icu_sort_key_udf(s: pd.Series, loc: pd.Series) -> pd.Series:
        """DuckDB ``icu_sort_key(s, collation)`` parity. ICU collation
        sort keys are locale-tailoring-data-driven, so byte-exact
        parity needs a real ICU build; none exists standalone in this
        environment (no PyICU), but the duckdb wheel statically links
        ICU — used here strictly as a collation LIBRARY, one scalar
        evaluation per distinct locale per Arrow batch (the engine's
        query execution stays Spark). Import-gated: without the wheel
        the call raises instead of silently approximating."""
        try:
            import duckdb
        except ImportError as exc:  # pragma: no cover — env-dependent
            raise NotImplementedError(
                "icu_sort_key needs ICU collation data and no ICU "
                "implementation is available in this environment"
            ) from exc
        out = pd.Series([None] * len(s), dtype="object")
        frame = pd.DataFrame(
            {"v": s.reset_index(drop=True), "loc": loc.reset_index(drop=True)}
        )
        con = duckdb.connect()
        for lv, grp in frame.groupby("loc", dropna=True):
            sub = pd.DataFrame({"v": grp["v"]})  # noqa: F841 — scanned
            lit = str(lv).replace("'", "''")
            keys = [
                r[0]
                for r in con.execute(
                    f"SELECT icu_sort_key(v, '{lit}') FROM sub"
                ).fetchall()
            ]
            out.iloc[list(grp.index)] = keys
        return out

    @pandas_udf("string")
    def _yyjson_norm_udf(s: pd.Series) -> pd.Series:
        return _memo_map(yyjson_render_json, s)

    @pandas_udf("string")
    def _duck_render_udf(s: pd.Series, t: pd.Series) -> pd.Series:
        # duck_render_varchar(None, ty) is defined (renders NULL), so
        # pair-memoize only the non-None side manually. Same signed-
        # zero key guard as _memo_map (the transport is CAST-to-STRING
        # today, but a raw float input must never alias -0.0 with 0.0)
        import math

        memo: dict = {}
        out = []
        for v, ty in zip(s, t):
            key = (
                (v, math.copysign(1.0, v), ty)
                if isinstance(v, float) and v == 0.0
                else (v, ty)
            )
            try:
                r = memo[key]
            except KeyError:
                r = memo[key] = duck_render_varchar(v, ty)
            except TypeError:
                r = duck_render_varchar(v, ty)
            out.append(r)
        return pd.Series(out, dtype="object")

    def _spark_double_str(x: float) -> str:
        """A string Spark's CAST(s AS DOUBLE) parses back to exactly
        ``x``: Python repr is shortest-round-trip; NaN/inf use Spark's
        accepted spellings. String transport is what keeps BOTH
        directions NULL-exact — a float64 Series folds nulls into NaN
        on input, and an object Series folds NaN into null on Arrow
        OUTPUT conversion (measured), so doubles cross the twin
        boundary as text in both directions."""
        import math

        if math.isnan(x):
            return "NaN"
        if math.isinf(x):
            return "Infinity" if x > 0 else "-Infinity"
        return repr(x)

    @pandas_udf("string")
    def _duck_round_str_udf(s: pd.Series, k: pd.Series) -> pd.Series:
        """DuckDB-exact round()-on-DOUBLE twin for Python-UDF argument
        spans: the SQL template repeats its operand ~9x and cannot
        lambda-bind inside a span (ExtractPythonUDFs), so statically
        DOUBLE operands route here — the value arrives ONCE as its
        Java repr string (shortest round-trip, so float() reproduces
        the exact double; NaN/Infinity spellings parse), keeping
        nested chains linear. Result returns as text too (see
        _spark_double_str); the emission casts it back to DOUBLE."""
        from .dialect import _duck_round_double_py

        def one(v, kk):
            if isinstance(kk, float) and pd.isna(kk):
                return None
            return _spark_double_str(
                _duck_round_double_py(float(v), int(kk))
            )

        return _memo_map(one, s, k)

    @pandas_udf("string")
    def _duck_fint_udf(s: pd.Series, mode: pd.Series) -> pd.Series:
        """ceil/floor/trunc-on-DOUBLE twin for Python-UDF argument
        spans (same string transport contract as __duck_round).
        DuckDB semantics: DOUBLE in/out, NaN/inf pass through, |x| >=
        2^53 is already integral and passes through, and the IEEE sign
        of zero is kept (ceil(-0.5) = -0.0, trunc(-0.4) = -0.0)."""
        import math

        def one(v, m):
            x = float(v)
            if math.isnan(x) or math.isinf(x) or abs(x) >= 2.0**53:
                return _spark_double_str(x)
            if m == "ceil":
                r = float(math.ceil(x))
            elif m == "floor":
                r = float(math.floor(x))
            else:  # trunc
                r = float(math.trunc(x))
            if r == 0.0:
                r = math.copysign(0.0, x)
            return _spark_double_str(r)

        return _memo_map(one, s, mode)

    @pandas_udf("string")
    def _duck_printf_udf(spec: pd.Series, s: pd.Series) -> pd.Series:
        """Float-directive printf twin (r10c) — see _duck_printf_py.
        Value transported as its Java string repr (shortest
        round-trip, so float() recovers the exact double) — same
        contract as __duck_round."""
        return _memo_map(
            lambda sp, v: _duck_printf_py(sp, float(v)), spec, s
        )

    @pandas_udf("string")
    def _duck_render_yy_udf(s: pd.Series) -> pd.Series:
        # yyjson-cutoff twin ([-6, 20], bare e<exp>) of __duck_render,
        # for the JSON-arrow numeric branch inside Python-UDF args
        return pd.Series(
            [
                None if v is None
                else (v if "E" not in v else _fmt_shortest_repr(
                    v, -6, 20, yy=True
                ))
                for v in s
            ],
            dtype="object",
        )

    _re2_valid_cache: dict = {}

    @pandas_udf("boolean")
    def _re2_valid_udf(p: pd.Series) -> pd.Series:
        # RE2 validity of a RUNTIME regexp pattern VALUE — DuckDB's
        # regexp_replace silently no-ops on an invalid pattern where
        # Java raises, so the dialect's guard CASE routes invalid
        # values back to the subject. RE2 accepts a different set than
        # Python's re, so validity is checked with RE2 ITSELF via the
        # statically-linked build in the duckdb wheel (same precedent
        # as icu_sort_key); one check per DISTINCT value, process-wide
        # cache. Documented-unsupported constructs (lookarounds,
        # backrefs, possessive quantifiers, ...) are rejected
        # STATICALLY first — no wheel needed (r12,
        # dialect._re2_static_verdict); only statically undecidable
        # values escalate. Wheel absent -> undecided values assume
        # valid (pre-existing behavior: they raise in Java).
        from .dialect import _re2_static_verdict

        try:
            import duckdb
        except ImportError:
            duckdb = None
        con = None

        def one(v):
            nonlocal con
            if v is None:
                return None
            r = _re2_valid_cache.get(v)
            if r is None and _re2_static_verdict(v) is False:
                r = False
                _re2_valid_cache[v] = r
            if r is None and duckdb is None:
                return True
            if r is None:
                if con is None:
                    con = duckdb.connect()
                try:
                    con.execute("SELECT regexp_matches('', ?)", [v])
                    r = True
                except duckdb.Error:
                    r = False
                _re2_valid_cache[v] = r
            return r

        out = pd.Series([one(v) for v in p], dtype="object")
        if con is not None:
            con.close()
        return out

    return {
        "age": _age_udf,
        "__re2_valid": _re2_valid_udf,
        "icu_sort_key": _icu_sort_key_udf,
        "__yyjson_norm": _yyjson_norm_udf,
        "__duck_render": _duck_render_udf,
        "__duck_render_yy": _duck_render_yy_udf,
        "__duck_round": _duck_round_str_udf,
        "__duck_printf": _duck_printf_udf,
        "__duck_fint": _duck_fint_udf,
        "length_grapheme": _length_grapheme_udf,
        "left_grapheme": _left_grapheme_udf,
        "right_grapheme": _right_grapheme_udf,
        "substring_grapheme": _substring_grapheme_udf,
        "json_contains": _json_contains_udf,
        "json_structure": _json_structure_udf,
        "strip_accents": _strip_accents_udf,
        "nfc_normalize": _nfc_normalize_udf,
        "nextafter": _nextafter_udf,
        "jaro_similarity": _jaro_udf,
        "jaro_winkler_similarity": _jw_udf,
        "damerau_levenshtein": _dl_udf,
        "levenshtein_bytes": _lev_udf,
        "gcd": _gcd_udf,
        "lcm": _lcm_udf,
        "gamma": _gamma_udf,
        "lgamma": _lgamma_udf,
    }


_SHARED_TEXT_UDFS: tuple | None = None  # (applicationId, {name: udf})


def register_text_udfs(spark: SparkSession) -> None:
    """Idempotent per-session registration (called from the session
    factory so every engine session resolves the names in plain SQL).
    The session-independent wrappers are built ONCE per SparkContext
    and re-registered on session clones (one catalog call each); a
    wrapper's lazily-built JVM handle is context-scoped, so a NEW
    context (old one stopped — test suites do this) rebuilds the set.
    Only ``current_setting`` — which surfaces the live session's conf —
    is rebuilt per session."""
    global _SHARED_TEXT_UDFS
    app_id = spark.sparkContext.applicationId
    if _SHARED_TEXT_UDFS is None or _SHARED_TEXT_UDFS[0] != app_id:
        _SHARED_TEXT_UDFS = (app_id, _build_text_udfs())
    for name, f in _SHARED_TEXT_UDFS[1].items():
        spark.udf.register(name, f)

    # engine settings surfaced through DuckDB's current_setting();
    # values reflect THIS engine's live session, captured at registration
    _settings = {
        "timezone": spark.conf.get("spark.sql.session.timeZone", "UTC"),
        "calendar": "gregorian",
        "threads": str(spark.sparkContext.defaultParallelism),
    }

    @pandas_udf("string")
    def _current_setting_udf(name: pd.Series) -> pd.Series:
        return pd.Series(
            [
                None if v is None else _settings.get(str(v).lower())
                for v in name
            ],
            dtype="object",
        )

    spark.udf.register("current_setting", _current_setting_udf)

    from .jvm_udfs import register_jvm_udfs

    register_jvm_udfs(spark)

