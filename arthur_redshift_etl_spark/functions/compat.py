"""Redshift-dialect → Spark SQL compatibility shim.

Reference context: user ``.sql`` files are opaque to the reference engine
(read verbatim, ``relation.py:279-293``) and executed by Redshift.  To run
the same files on Spark we pre-rewrite the handful of dialect deltas
(SURVEY §2.9/§7.4) as a conservative, token-aware string transform — NOT a
full SQL parser.  Rewrites only touch code outside string literals.

| Redshift                       | Spark                                   |
|--------------------------------|-----------------------------------------|
| GETDATE() / SYSDATE            | current_timestamp()                     |
| NVL(a, b)                      | coalesce (NVL2 is native in Spark)      |
| DECODE(e, s1, r1, ..., d)      | CASE WHEN ... (functional rewrite)      |
| LISTAGG(x [,sep]) WITHIN GROUP | array_join(collect_list(x), sep)        |
| MEDIAN(x)                      | percentile(x, 0.5)                      |
| APPROXIMATE COUNT(DISTINCT x)  | approx_count_distinct(x)                |
| CONVERT_TIMEZONE('tz', t)      | from_utc_timestamp(t, 'tz')             |
| DATEADD(unit, n, t)            | t + INTERVAL n unit (via dateadd)       |
| DATEDIFF(unit, t1, t2)         | datediff(unit, t1, t2) — native ≥3.3    |
| STRTOL(x, 16)                  | conv(x, 16, 10)                         |
| len(x)                         | length(x)                               |
| QUALIFY <window-pred>          | inner SELECT + outer WHERE (* EXCEPT)   |

``::type`` casts and ``DATE_PART`` parse natively in Spark ≥ 3.4.
"""

from __future__ import annotations

import re
from typing import List, Tuple


def _split_literals(sql: str) -> List[Tuple[str, bool]]:
    """Split SQL into (chunk, is_literal) segments; literals are '...' strings
    (with '' escapes) and -- / block comments."""
    out: List[Tuple[str, bool]] = []
    i, n = 0, len(sql)
    buf = []
    while i < n:
        ch = sql[i]
        if ch == "'":
            if buf:
                out.append(("".join(buf), False))
                buf = []
            j = i + 1
            while j < n:
                if sql[j] == "'":
                    if j + 1 < n and sql[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            out.append((sql[i : j + 1], True))
            i = j + 1
        elif ch == "-" and i + 1 < n and sql[i + 1] == "-":
            if buf:
                out.append(("".join(buf), False))
                buf = []
            j = sql.find("\n", i)
            j = n if j == -1 else j
            out.append((sql[i:j], True))
            i = j
        elif ch == "/" and i + 1 < n and sql[i + 1] == "*":
            if buf:
                out.append(("".join(buf), False))
                buf = []
            j = sql.find("*/", i + 2)
            j = n if j == -1 else j + 2
            out.append((sql[i:j], True))
            i = j
        else:
            buf.append(ch)
            i += 1
    if buf:
        out.append(("".join(buf), False))
    return out


def _skip_literal(code: str, i: int) -> int:
    """Given i at an opening quote, return index just past the literal."""
    j = i + 1
    n = len(code)
    while j < n:
        if code[j] == "'":
            if j + 1 < n and code[j + 1] == "'":
                j += 2
                continue
            return j + 1
        j += 1
    return n


def _decode_to_case(args):
    """DECODE(expr, s1, r1 [, s2, r2 ...] [, default]) → CASE expression."""
    if len(args) < 3:
        return None
    expr, rest = args[0], list(args[1:])
    default = rest.pop() if len(rest) % 2 == 1 else None
    whens = " ".join(
        f"WHEN {expr} = {rest[k]} THEN {rest[k + 1]}" for k in range(0, len(rest), 2)
    )
    return f"CASE {whens}" + (f" ELSE {default}" if default else "") + " END"


def _rewrite_decode(code: str) -> str:
    """Literal-aware DECODE → CASE (see ``_rewrite_call``)."""
    return _rewrite_call(code, "DECODE", _decode_to_case)


def _find_top_level(code: str, pattern: "re.Pattern", start: int = 0):
    """First match of ``pattern`` at paren depth 0, skipping literals."""
    depth, i = 0, start
    n = len(code)
    while i < n:
        c = code[i]
        if c == "'":
            i = _skip_literal(code, i)
            continue
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif depth == 0:
            m = pattern.match(code, i)
            if m:
                return m
        i += 1
    return None


_QUALIFY_RE = re.compile(r"\bQUALIFY\b", re.I)
_QUALIFY_END_RE = re.compile(r"\b(ORDER\s+BY|LIMIT|OFFSET|WINDOW)\b", re.I)
_FROM_RE = re.compile(r"\bFROM\b", re.I)


def _rewrite_qualify(code: str) -> str:
    """Rewrite Redshift/Teradata-style QUALIFY into Spark SQL.

    ``SELECT cols FROM ... QUALIFY <pred> [ORDER BY/LIMIT ...]`` becomes::

        SELECT * EXCEPT (__qualify) FROM (
          SELECT cols, (<pred>) AS __qualify FROM ...
        ) WHERE __qualify [ORDER BY/LIMIT ...]

    The window predicate is evaluated in the inner SELECT list (where window
    functions are legal), the outer filter keeps Spark happy, and
    ``* EXCEPT`` drops the helper column so the output schema matches the
    original query.  Handles QUALIFY in parenthesized subqueries by
    recursion; set-operation branches with QUALIFY are left untouched
    (conservative: no top-level UNION rewrite).
    """
    # recurse into parenthesized groups first
    out, i, n = [], 0, len(code)
    while i < n:
        c = code[i]
        if c == "'":
            j = _skip_literal(code, i)
            out.append(code[i:j])
            i = j
            continue
        if c == "(":
            depth, j = 1, i + 1
            while j < n and depth:
                if code[j] == "'":
                    j = _skip_literal(code, j)
                    continue
                if code[j] == "(":
                    depth += 1
                elif code[j] == ")":
                    depth -= 1
                j += 1
            inner = code[i + 1 : j - 1] if depth == 0 else code[i + 1 :]
            out.append("(" + _rewrite_qualify(inner) + (")" if depth == 0 else ""))
            i = j
            continue
        out.append(c)
        i += 1
    code = "".join(out)

    m = _find_top_level(code, _QUALIFY_RE)
    if m is None:
        return code
    if _find_top_level(code, re.compile(r"\b(UNION|INTERSECT|EXCEPT)\b", re.I)):
        return code  # set-op branches: leave for the user to parenthesize
    head = code[: m.start()]
    rest = code[m.end() :]
    endm = _find_top_level(rest, _QUALIFY_END_RE)
    pred, tail = (
        (rest[: endm.start()], rest[endm.start() :]) if endm else (rest, "")
    )
    fromm = _find_top_level(head, _FROM_RE)
    if fromm is None:
        return code
    inner = (
        head[: fromm.start()].rstrip()
        + ", ("
        + pred.strip()
        + ") AS __qualify "
        + head[fromm.start() :]
    )
    return (
        "SELECT * EXCEPT (__qualify) FROM ("
        + inner.strip()
        + ") WHERE __qualify "
        + tail.strip()
    ).strip()


_SIMPLE_REWRITES = [
    (re.compile(r"\bGETDATE\s*\(\s*\)", re.I), "current_timestamp()"),
    (re.compile(r"\bSYSDATE\b", re.I), "current_timestamp()"),
    (re.compile(r"\bNVL\s*\(", re.I), "coalesce("),
    (re.compile(r"\bSTRTOL\s*\(\s*([^,()]+)\s*,\s*16\s*\)", re.I), r"conv(\1, 16, 10)"),
    (re.compile(r"\bMEDIAN\s*\(\s*([^()]+?)\s*\)", re.I), r"percentile(\1, 0.5)"),
    (
        re.compile(r"\bAPPROXIMATE\s+COUNT\s*\(\s*DISTINCT\s+([^()]+?)\s*\)", re.I),
        r"approx_count_distinct(\1)",
    ),
    (
        re.compile(r"\bCONVERT_TIMEZONE\s*\(\s*('[^']*')\s*,\s*([^()]+?)\s*\)", re.I),
        r"from_utc_timestamp(\2, \1)",
    ),
    # LISTAGG(x, 'sep') [WITHIN GROUP (ORDER BY ...)] — Spark: collect, sort,
    # join.  WITHIN GROUP ordering maps to array_sort over the collected
    # values (covers the dominant ORDER BY-the-aggregated-column case).
    (
        re.compile(
            r"\bLISTAGG\s*\(\s*(DISTINCT\s+)?([^,()]+?)\s*(?:,\s*('[^']*'))?\s*\)"
            r"(\s*WITHIN\s+GROUP\s*\(\s*ORDER\s+BY\s+[^()]*\))?",
            re.I,
        ),
        lambda m: "array_join({sort_open}{distinct_open}collect_list({expr}){distinct_close}{sort_close}, {sep})".format(
            sort_open="array_sort(" if m.group(4) else "",
            distinct_open="array_distinct(" if m.group(1) else "",
            expr=m.group(2),
            distinct_close=")" if m.group(1) else "",
            sort_close=")" if m.group(4) else "",
            sep=m.group(3) or "''",
        ),
    ),
    # DATEADD(unit, n, ts) → dateadd(unit, n, ts) is native in Spark ≥ 3.3 —
    # normalize case only; DATEDIFF(unit, a, b) likewise native.
    # reference's plpythonu UDF dw.f_sha256 (sql/001_ETL_create_f_sha256.sql)
    (re.compile(r"\b(?:dw\.)?f_sha256\s*\(\s*([^()]+?)\s*\)", re.I), r"sha2(\1, 256)"),
    # Redshift LEN → length
    (re.compile(r"\bLEN\s*\(", re.I), "length("),
    # CHARINDEX(substring, string) → instr(string, substring): Spark has no
    # charindex and instr takes the haystack FIRST — the args must swap
    (
        re.compile(r"\bCHARINDEX\s*\(\s*([^,()]+?)\s*,\s*([^,()]+?)\s*\)", re.I),
        r"instr(\2, \1)",
    ),
    # STRPOS(string, substring) → instr (same argument order)
    (re.compile(r"\bSTRPOS\s*\(", re.I), "instr("),
    # bare VARCHAR casts (Redshift defaults the length; Spark requires one)
    (re.compile(r"\bAS\s+VARCHAR\s*(?![\s]*\()", re.I), "AS STRING"),
    (re.compile(r"::\s*VARCHAR\b(?![\s]*\()", re.I), "::string"),
    # epoch extraction (no-literal form; the DATE_PART('epoch', x) form needs
    # literal contents and runs post-restore — see _POST_RESTORE_REWRITES)
    (
        re.compile(r"\bEXTRACT\s*\(\s*EPOCH\s+FROM\s+([^()]+?)\s*\)", re.I),
        r"unix_timestamp(\1)",
    ),
]


def _rewrite_call(code: str, name: str, transform) -> str:
    """Rewrite every ``name(args...)`` call outside string literals.

    Splits arguments at top-level commas (paren- and literal-aware) and
    replaces the call with ``transform(args) -> str`` (return None to leave
    the call untouched).
    """
    pattern = re.compile(rf"\b{name}\s*\(", re.I)
    pos = 0
    while True:
        m = None
        scan = pos
        while scan < len(code):
            if code[scan] == "'":
                scan = _skip_literal(code, scan)
                continue
            m = pattern.match(code, scan)
            if m:
                break
            scan += 1
        if m is None:
            return code
        depth, i = 1, m.end()
        args, start = [], m.end()
        while i < len(code) and depth:
            c = code[i]
            if c == "'":
                i = _skip_literal(code, i)
                continue
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
                if depth == 0:
                    args.append(code[start:i].strip())
                    break
            elif c == "," and depth == 1:
                args.append(code[start:i].strip())
                start = i + 1
            i += 1
        if depth:
            return code
        repl = transform(args)
        if repl is None:
            pos = i + 1
            continue
        code = code[: m.start()] + repl + code[i + 1 :]
        # re-scan from the replacement: nested calls inside the arguments
        # (e.g. DECODE within DECODE) still need rewriting.  Transforms must
        # not emit the call name they match, or this would loop.
        pos = m.start()

# Redshift TO_CHAR/TO_DATE datetime format tokens → Spark datetime pattern
# letters.  Longest-first so e.g. HH24 wins over HH.  Unmapped alphabetic
# runs are left as-is (punctuation/separators pass through).
_DATETIME_TOKEN_MAP = [
    ("YYYY", "yyyy"),
    ("YY", "yy"),
    ("MM", "MM"),
    ("MON", "MMM"),
    ("DD", "dd"),
    ("HH24", "HH"),
    ("HH12", "hh"),
    ("HH", "hh"),  # Redshift HH is 12-hour
    ("MI", "mm"),
    ("SS", "ss"),
    ("MS", "SSS"),
    ("AM", "a"),
    ("PM", "a"),
]
_DATETIME_TOKEN_RE = re.compile(
    "|".join(
        re.escape(k)
        for k in sorted({k for k, _ in _DATETIME_TOKEN_MAP}, key=len, reverse=True)
    ),
    re.I,
)
_DATETIME_TOKEN_LOOKUP = {k.upper(): v for k, v in _DATETIME_TOKEN_MAP}


def _translate_datetime_format(fmt: str) -> str:
    """Redshift format literal (sans quotes) → Spark datetime pattern."""
    return _DATETIME_TOKEN_RE.sub(
        lambda m: _DATETIME_TOKEN_LOOKUP[m.group(0).upper()], fmt
    )


# rules whose patterns include literal text — applied AFTER literal restore
# (safe because the replacement introduces no quotes that could confuse later
# rules; this list runs last)
_POST_RESTORE_REWRITES = [
    (
        re.compile(r"\bDATE_PART\s*\(\s*'epoch'\s*,\s*([^()]+?)\s*\)", re.I),
        r"unix_timestamp(\1)",
    ),
]


def _json_path_to_get_json(args):
    """JSON_EXTRACT_PATH_TEXT(j, 'k1', 'k2', ...) → get_json_object(j,
    '$.k1.k2...').  Non-literal path elements bail (left untouched)."""
    if len(args) < 2:
        return None
    keys = []
    for a in args[1:]:
        if not (a.startswith("'") and a.endswith("'")):
            return None
        keys.append(a[1:-1])
    path = "$." + ".".join(keys)
    return f"get_json_object({args[0]}, '{path}')"


_TO_CHAR_RE = re.compile(r"\b(TO_CHAR|TO_DATE|TO_TIMESTAMP)\s*\(", re.I)
_TO_FN_MAP = {
    "TO_CHAR": "date_format",
    "TO_DATE": "to_date",
    "TO_TIMESTAMP": "to_timestamp",
}


def _rewrite_to_char(code: str) -> str:
    """TO_CHAR/TO_DATE/TO_TIMESTAMP(expr, 'fmt') with Redshift tokens →
    date_format/to_date/to_timestamp(expr, '<translated fmt>').

    Runs on the UNMASKED string (it must read the format literal), scanning
    literal-safely.  Single-argument TO_DATE/TO_TIMESTAMP and non-literal
    formats are left untouched.
    """
    pos = 0
    while True:
        m = None
        scan = pos
        while scan < len(code):
            if code[scan] == "'":
                scan = _skip_literal(code, scan)
                continue
            m = _TO_CHAR_RE.match(code, scan)
            if m:
                break
            scan += 1
        if m is None:
            return code
        depth, i = 1, m.end()
        args, start = [], m.end()
        while i < len(code) and depth:
            c = code[i]
            if c == "'":
                i = _skip_literal(code, i)
                continue
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
                if depth == 0:
                    args.append(code[start:i].strip())
                    break
            elif c == "," and depth == 1:
                args.append(code[start:i].strip())
                start = i + 1
            i += 1
        if depth:
            return code  # unbalanced; bail
        if len(args) == 2 and args[1].startswith("'") and args[1].endswith("'"):
            fn = _TO_FN_MAP[m.group(1).upper()]
            fmt = _translate_datetime_format(args[1][1:-1])
            repl = f"{fn}({args[0]}, '{fmt}')"
            code = code[: m.start()] + repl + code[i + 1 :]
            pos = m.start() + len(repl)
        else:
            pos = i + 1

def rewrite_redshift_sql(sql: str) -> str:
    """Rewrite Redshift-dialect SQL to Spark SQL, preserving string literals.

    >>> rewrite_redshift_sql("SELECT GETDATE(), NVL(a, 0) FROM t")
    'SELECT current_timestamp(), coalesce(a, 0) FROM t'
    >>> rewrite_redshift_sql("SELECT DECODE(x, 1, 'one', 'other') FROM t")
    "SELECT CASE WHEN x = 1 THEN 'one' ELSE 'other' END FROM t"
    >>> rewrite_redshift_sql("SELECT 'GETDATE()' AS lit")
    "SELECT 'GETDATE()' AS lit"
    >>> rewrite_redshift_sql("SELECT MEDIAN(price) FROM t")
    'SELECT percentile(price, 0.5) FROM t'
    >>> rewrite_redshift_sql(
    ...     "SELECT a FROM t QUALIFY ROW_NUMBER() OVER (ORDER BY a) = 1")
    'SELECT * EXCEPT (__qualify) FROM (SELECT a, (ROW_NUMBER() OVER (ORDER BY a) = 1) AS __qualify FROM t) WHERE __qualify'
    """
    # Mask literals/comments with unique placeholders so rewrites never touch
    # or get confused by their contents; string literals keep their quotes so
    # literal-argument patterns (e.g. LISTAGG's separator) still match.
    parts = _split_literals(sql)
    masked, restore = [], {}
    for idx, (chunk, is_literal) in enumerate(parts):
        if not is_literal:
            masked.append(chunk)
            continue
        key = f"\x00{idx}\x00"
        if chunk.startswith("'"):
            masked.append(f"'{key}'")
            restore[f"'{key}'"] = chunk
        else:  # comment
            masked.append(key)
            restore[key] = chunk
    code = "".join(masked)
    for pat, repl in _SIMPLE_REWRITES:
        code = pat.sub(repl, code)
    code = _rewrite_decode(code)
    # CHARINDEX(substr, str) → instr(str, substr): argument order swaps
    code = _rewrite_call(
        code,
        "CHARINDEX",
        lambda a: f"instr({a[1]}, {a[0]})" if len(a) == 2 else None,
    )
    code = _rewrite_qualify(code)
    for key, orig in restore.items():
        code = code.replace(key, orig)
    # TO_CHAR/TO_DATE format translation, JSON path building, and rules
    # keyed on literal arguments must see literal contents → after restore.
    code = _rewrite_to_char(code)
    code = _rewrite_call(code, "JSON_EXTRACT_PATH_TEXT", _json_path_to_get_json)
    for pat, repl in _POST_RESTORE_REWRITES:
        code = pat.sub(repl, code)
    return code
