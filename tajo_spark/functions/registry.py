"""Tajo built-in function parity registry.

The reference registers ~200 function classes by classpath scan at
master start (tajo-core/.../engine/function/FunctionLoader.java:50).
Most have identical names/semantics in ``pyspark.sql.functions``
(SURVEY.md §2.8 table); this module registers the remainder — the
functions Tajo has that Spark spells differently or lacks — as
**SQL UDFs** (``CREATE TEMPORARY FUNCTION ... RETURN <expr>``), which
Catalyst inlines into the plan: they run JVM-side inside whole-stage
codegen, cost-free at 100 TB (never Python row-at-a-time).

Per-function reference pointers are in the SQL comments below.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

# name → (signature, return type, body). Each becomes
# CREATE OR REPLACE TEMPORARY FUNCTION <name>(<sig>) RETURNS <ret> RETURN <body>
SQL_FUNCTIONS: dict[str, tuple[str, str, str]] = {
    # --- string/ (engine/function/string/) ---------------------------------
    # StrPosb.java: byte offset of substring (1-based, 0 if absent).
    # Exact for any UTF-8 input: char position → byte length of the prefix.
    "strposb": (
        "s STRING, sub STRING",
        "INT",
        "CASE WHEN instr(s, sub) = 0 THEN 0 "
        "ELSE octet_length(substr(s, 1, instr(s, sub) - 1)) + 1 END",
    ),
    # QuoteIdent.java (PostgreSQL semantics: quote unless already a
    # lower-case identifier).
    "quote_ident": (
        "s STRING",
        "STRING",
        "CASE WHEN s RLIKE '^[a-z_][a-z0-9_]*$' THEN s "
        "ELSE concat('\"', replace(s, '\"', '\"\"'), '\"') END",
    ),
    # ToBin.java / ToHex.java — Spark spells these bin()/hex(); Tajo's
    # to_hex renders lowercase (PostgreSQL convention).
    "to_bin": ("x BIGINT", "STRING", "bin(x)"),
    "to_hex": ("x BIGINT", "STRING", "lower(hex(x))"),
    # StrPos.java: 1-based character position, 0 if absent — Spark has
    # locate/instr but no strpos spelling.
    "strpos": ("s STRING, sub STRING", "INT", "instr(s, sub)"),
    # SplitPart.java:56-69 — whole-separator LITERAL split; blank/null
    # input text or out-of-range field index → NULL (Spark's builtin
    # split_part returns '' out of range).  Spark refuses to shadow a
    # builtin name, so the dialect shim rewrites SQL ``split_part(`` to
    # this spelling.  get() (not element_at) gives the NULL-past-end
    # read; \Q..\E quotes the separator for Spark's regex split (a
    # separator containing literal '\E' would unquote early — not a
    # Tajo-testable case).
    "tajo_split_part": (
        "s STRING, sep STRING, n INT",
        "STRING",
        "CASE WHEN s IS NULL OR s = '' OR n IS NULL THEN NULL "
        "ELSE get(split(s, concat('\\\\Q', sep, '\\\\E')), n - 1) END",
    ),
    # to_char(long) — ToCharLong.java: decimal rendering of an integer.
    "to_char_long": ("x BIGINT", "STRING", "CAST(x AS STRING)"),
    # Digest.java: digest(input, 'md5'|'sha1'|'sha256'|...)
    "digest": (
        "s STRING, algo STRING",
        "STRING",
        "CASE lower(algo) WHEN 'md5' THEN md5(s) "
        "WHEN 'sha1' THEN sha1(s) "
        "WHEN 'sha256' THEN sha2(s, 256) "
        "WHEN 'sha512' THEN sha2(s, 512) END",
    ),
    # --- math/ -------------------------------------------------------------
    # Div.java: integer division — Spark 4 ships div(a,b) natively with
    # identical semantics (verified in tests); nothing to register.
    # Cbrt exists in Spark; Pow/Pi/etc. native.
    # --- datetime/ ---------------------------------------------------------
    # AddDays.java: date/timestamp + n days.
    "add_days": (
        "t TIMESTAMP, n INT",
        "TIMESTAMP",
        "timestampadd(DAY, n, t)",
    ),
    # CurrentTime.java: native — Spark 4.1's current_time() returns the
    # TIME type directly (timeType enabled in session.py).
    # UtcUsecTo.java: truncate a UTC epoch-microsecond value to a unit.
    "utc_usec_to": (
        "unit STRING, usec BIGINT",
        "BIGINT",
        "unix_micros(date_trunc(unit, timestamp_micros(usec)))",
    ),
    # ToTimestampInt.java: epoch seconds → timestamp.
    "to_timestamp_seconds": (
        "s BIGINT",
        "TIMESTAMP",
        "timestamp_seconds(s)",
    ),
    # --- json/ (engine/function/json/) -------------------------------------
    # JsonExtractPathText.java: extract nested path as text (2 levels via
    # DEFAULT arg; deeper paths use get_json_object with a $.path directly).
    "json_extract_path_text": (
        "js STRING, p1 STRING, p2 STRING DEFAULT NULL",
        "STRING",
        "CASE WHEN p2 IS NULL THEN get_json_object(js, concat('$.', p1)) "
        "ELSE get_json_object(js, concat('$.', p1, '.', p2)) END",
    ),
    # JsonArrayGet.java: i-th element of a JSON array (0-based; negative
    # indexes from the end, same as the reference).
    "json_array_get": (
        "js STRING, i INT",
        "STRING",
        "CASE WHEN i >= 0 THEN get_json_object(js, concat('$[', i, ']')) "
        "ELSE get_json_object(js, concat('$[', "
        "json_array_length(js) + i, ']')) END",
    ),
    # JsonArrayContains.java (string-element variant).
    "json_array_contains": (
        "js STRING, v STRING",
        "BOOLEAN",
        "array_contains(from_json(js, 'array<string>'), v)",
    ),
    # --- geoip/ (stubs — the GeoIP database is an external artifact the
    # reference loads from a local path (GeoIPUtil.java); we expose the
    # same names with a deterministic stub so queries type-check and a
    # real deployment can re-point them at a broadcast lookup table).
    "geoip_country_code": (
        "ip STRING",
        "STRING",
        "CASE WHEN ip RLIKE '^[0-9]{1,3}(\\\\.[0-9]{1,3}){3}$' "
        "THEN 'ZZ' ELSE NULL END",
    ),
    "geoip_in_country": (
        "ip STRING, cc STRING",
        "BOOLEAN",
        "geoip_country_code(ip) = cc",
    ),
    # --- inet helpers (string/ IPstrToInt etc.) ----------------------------
    "inet_aton": (
        "ip STRING",
        "BIGINT",
        "CAST(split(ip, '\\\\.')[0] AS BIGINT) * 16777216 "
        "+ CAST(split(ip, '\\\\.')[1] AS BIGINT) * 65536 "
        "+ CAST(split(ip, '\\\\.')[2] AS BIGINT) * 256 "
        "+ CAST(split(ip, '\\\\.')[3] AS BIGINT)",
    ),
    "inet_ntoa": (
        "n BIGINT",
        "STRING",
        "concat(CAST(n div 16777216 % 256 AS STRING), '.', "
        "CAST(n div 65536 % 256 AS STRING), '.', "
        "CAST(n div 256 % 256 AS STRING), '.', CAST(n % 256 AS STRING))",
    ),
}

# to_char(timestamp, fmt) — ToCharTimestamp.java uses PostgreSQL format
# codes; translate the common ones to Java SimpleDateFormat for
# date_format. Applied longest-first to avoid prefix clashes.
_PG_TO_JAVA = [
    ("HH24", "HH"),
    ("HH12", "hh"),
    ("YYYY", "yyyy"),
    ("MI", "mm"),
    ("SS", "ss"),
    ("MS", "SSS"),
    ("YY", "yy"),
    ("MM", "MM"),
    ("DD", "dd"),
    ("DY", "EEE"),
    ("HH", "HH"),
]


def pg_format_to_java(fmt: str) -> str:
    out = fmt
    for pg, jv in _PG_TO_JAVA:
        out = out.replace(pg, jv)
    return out


def register_all(spark: SparkSession) -> list[str]:
    """Register every parity function on the session (idempotent), in
    one SQL-script statement that defines them in ``SQL_FUNCTIONS``
    order, so a body may call a function defined above it.

    ``to_char(ts, fmt)`` and ``div(a, b)`` need no registration: Spark 4
    ships both natively (to_char takes Java datetime patterns — the
    dialect shim translates PostgreSQL codes in SQL literals;
    ToCharTimestamp.java parity lives in plans/dialect.py).  The pandas
    aggregate twins are registered by the mixed-UDAF fallback itself,
    on the first statement that needs them (agg_fallback.register_twins).
    """
    definitions = [
        f"CREATE OR REPLACE TEMPORARY FUNCTION {name}({sig}) "
        f"RETURNS {ret} RETURN {body};"
        for name, (sig, ret, body) in SQL_FUNCTIONS.items()
    ]
    try:
        spark.sql("BEGIN\n" + "\n".join(definitions) + "\nEND")
    except Exception:
        # the script's error does not say which definition failed; the
        # definitions are idempotent, so re-issue them one by one to
        # name it
        for name, definition in zip(SQL_FUNCTIONS, definitions):
            try:
                spark.sql(definition.rstrip(";"))
            except Exception as exc:
                raise RuntimeError(
                    f"SQL function {name} does not register: {exc}"
                ) from exc
        raise
    return list(SQL_FUNCTIONS)
