"""Engine: the public client API, mirroring the reference's entry points.

Reference surface (SURVEY.md §3.1):
  * ``TajoClientImpl.executeQuery(sql)`` / ``executeQueryAndGetResult``
    (tajo-client/.../client/TajoClientImpl.java:45, QueryClient.java:86,98)
    → :meth:`Engine.execute_sql` (returns a DataFrame; ``.collect()`` is
    the blocking variant).
  * tsql session variables ``\\set`` / ``SET SESSION k TO v``
    (tajo-common/.../SessionVars.java) → :meth:`Engine.set_session`,
    mapped onto Spark SQL confs where an equivalent exists.
  * DDL executor (tajo-core/.../master/exec/DDLExecutor.java) →
    ``spark.sql`` after the dialect shim (plans/dialect.py).
  * EXPLAIN [GLOBAL] (QueryExecutor.java:126) → :meth:`Engine.explain`.

The lifecycle keeps only the compile façade as real code — parse/plan/
optimize/schedule are Catalyst + the DAG scheduler (SURVEY.md §3.3
"Spark mapping of the whole lifecycle").
"""

from __future__ import annotations

import re as _re

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from tajo_spark.functions import agg_fallback
from tajo_spark.functions.registry import register_all
from tajo_spark.plans import dialect
from tajo_spark.session import build_spark


@dataclass(frozen=True)
class SessionVarSpec:
    """How a Tajo session variable (SessionVars.java) maps onto Spark."""

    spark_conf: str | None  # None → accepted but a no-op under Spark
    note: str


# SessionVars.java names → Spark SQL conf. Vars whose job Spark's runtime
# already does (AQE, Tungsten) are accepted and recorded but map to no conf.
SESSION_VARS: dict[str, SessionVarSpec] = {
    "BROADCAST_NON_CROSS_JOIN_THRESHOLD": SessionVarSpec(
        "spark.sql.autoBroadcastJoinThreshold",
        "SessionVars.java:97 — static threshold; estimates are "
        "decode-honest (fileCompressionFactor, session.py) and AQE "
        "re-decides at runtime",
    ),
    "BROADCAST_CROSS_JOIN_THRESHOLD": SessionVarSpec(
        "spark.sql.autoBroadcastJoinThreshold",
        "SessionVars.java:99",
    ),
    "JOIN_TASK_INPUT_SIZE": SessionVarSpec(
        "spark.sql.files.maxPartitionBytes",
        "per-task input sizing (Stage.java:938 analogue)",
    ),
    "SORT_TASK_INPUT_SIZE": SessionVarSpec(
        "spark.sql.files.maxPartitionBytes", "as above"
    ),
    "HASH_JOIN_SIZE_LIMIT": SessionVarSpec(
        None, "SessionVars.java:128 — Spark spills hash joins; AQE picks algo"
    ),
    "INNER_HASH_JOIN_SIZE_LIMIT": SessionVarSpec(None, "SessionVars.java:130"),
    "OUTER_HASH_JOIN_SIZE_LIMIT": SessionVarSpec(None, "SessionVars.java:132"),
    "EXTSORT_BUFFER_SIZE": SessionVarSpec(
        None, "SessionVars.java:124 — Tungsten manages sort memory"
    ),
    "GROUPBY_MULTI_LEVEL_ENABLED": SessionVarSpec(
        None, "GlobalPlanner.java:603 — Catalyst plans distinct-agg natively"
    ),
    "TIMEZONE": SessionVarSpec("spark.sql.session.timeZone",
                               "time_zone.rst parity"),
    "SESSION_EXPIRY_TIME": SessionVarSpec(None, "driver-managed"),
    "SELF_DESC_TEXT_TYPING": SessionVarSpec(
        None,
        "engine-local (r09 VERDICT task 5): when on, schemaless "
        "self-describing JSON tables read every primitive as TEXT "
        "(SelfDescSchemaBuildPhase.java:52-55 — the reference types "
        "self-desc primitives as TEXT and re-parses per query) via "
        "Spark's primitivesAsString; default off keeps typed inference",
    ),
    "CODEGEN": SessionVarSpec(
        "spark.sql.codegen.wholeStage",
        "SessionVars.java:140 — whole-stage codegen is the superset",
    ),
}


def split_statements(script: str) -> list[str]:
    """Split a SQL script into statements: ';' terminates a statement
    unless inside a single-quoted literal; '--' comments run to EOL
    (outside literals). Mirrors the reference's SimpleParser behavior."""
    out: list[str] = []
    buf: list[str] = []
    in_str = False
    i = 0
    while i < len(script):
        c = script[i]
        if in_str:
            buf.append(c)
            if c == "'":
                # '' is an escaped quote inside the literal
                if i + 1 < len(script) and script[i + 1] == "'":
                    buf.append("'")
                    i += 1
                else:
                    in_str = False
        elif c == "'":
            in_str = True
            buf.append(c)
        elif c == "-" and script[i : i + 2] == "--":
            while i < len(script) and script[i] != "\n":
                i += 1
            continue
        elif c == "/" and script[i : i + 2] == "/*":
            # block comment (reference SQLParser.g4 allows them inside
            # column lists — TestSelectNestedRecord/tweets_ddl.sql)
            end = script.find("*/", i + 2)
            i = len(script) if end < 0 else end + 2
            continue
        elif c == ";":
            if "".join(buf).strip():
                out.append("".join(buf).strip())
            buf = []
        else:
            buf.append(c)
        i += 1
    if "".join(buf).strip():
        out.append("".join(buf).strip())
    return out


_EXPR_FN_RE = _re.compile(r"^\s*([A-Za-z_][A-Za-z0-9_]*)\s*\(")
_COALESCED_SUM_DISTINCT_RE = _re.compile(
    r"\s*coalesce\(\s*sum\(\s*distinct\b", _re.IGNORECASE
)
# aggregate functions whose non-column argument gets its own target
# entry in Tajo's planner (and therefore consumes one unnamed-column
# sequence slot before the aggregate's own) — golden evidence:
# testSumIntOverflow `sum(cast(...))` is named ?sum_1 with no other
# unnamed output column, while testDistinctAggregation4's bare-column
# `sum(distinct l_orderkey)` is plain ?sum
_AGG_FN_NAMES = frozenset(
    ("sum", "avg", "min", "max", "count", "stddev", "stddev_pop",
     "stddev_samp", "var_pop", "var_samp", "variance", "corr")
)
_BARE_ARG_RE = _re.compile(
    r"^\s*(distinct\s+)?([A-Za-z_][\w.]*|\d+)\s*$", _re.IGNORECASE
)
_OP_NAMES = {"*": "multiply", "/": "divide", "%": "modular",
             "+": "plus", "-": "minus"}


def _tajo_autoname_prefix(name: str) -> str | None:
    """Tajo's prefix for an unnamed output expression, or None if the
    column is an ordinary (user-named) one.  Spark auto-names an
    unaliased expression with its SQL text — ``sum(DISTINCT x)``,
    ``CAST(x AS INT)``, ``(a + b)`` — which an identifier alias can
    never contain, so '(' in the name marks it generated.  A name
    already starting with '?' is a dialect-marked unnamed column
    (name_unaliased_text_literals) awaiting its sequence suffix."""
    if name.startswith("?"):
        return name[1:] or "text"
    # every unnamed CASE expression is "?casewhen" (golden:
    # results/TestTablePartitions/case8) — checked before the paren
    # guard because a simple CASE form can be paren-free; the space
    # makes it impossible as a user alias
    if _re.match(r"CASE\s", name, _re.IGNORECASE):
        return "casewhen"
    if "(" not in name:
        return None
    # Tajo names every unnamed window expression "?windowfunction"
    # (golden: results/TestWindowQuery/testWindow1-5)
    if " OVER (" in name:
        return "windowfunction"
    # dialect.round_to_int8 wraps 1-arg round in cast(... as bigint);
    # the user-visible expression is the round
    if _re.match(r"\s*cast\(\s*round\(", name, _re.IGNORECASE):
        return "round"
    m = _EXPR_FN_RE.match(name)
    if m:
        fn = m.group(1).lower()
        # dialect.zero_sum_distinct wraps sum(DISTINCT ...) in
        # coalesce(..., 0); the user-visible expression is still the
        # sum, so name it the way Tajo does (the sequence logic below
        # re-derives the INNER sum's argument for the bare-column test)
        if fn == "coalesce" and _COALESCED_SUM_DISTINCT_RE.match(name):
            return "sum"
        # dialect-renamed parity functions (tajo_split_part) present as
        # their Tajo spelling
        if fn.startswith("tajo_"):
            return fn[len("tajo_"):]
        return fn
    s = name.strip()
    # strip one balanced outer paren pair, then the depth-0 operator is
    # the expression's root (Spark parenthesizes sub-expressions)
    if s.startswith("(") and s.endswith(")"):
        s = s[1:-1]
    depth = 0
    for ch in s:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0 and ch in _OP_NAMES:
            return _OP_NAMES[ch]
    return None


def _tajo_autonames(df: DataFrame) -> DataFrame:
    """Rename unaliased expression columns to Tajo's convention —
    ``?<prefix>`` with a query-global sequence appended when > 0
    (LogicalPlan.java:55,185: NONAMED_COLUMN_PREFIX + prefix +
    ("_" + seq if seq > 0)) — so the engine's SQL surface presents the
    column names the reference's clients (and its golden result files)
    see."""
    out, seq, changed = [], 0, False
    for n in df.columns:
        prefix = _tajo_autoname_prefix(n)
        if prefix is None:
            out.append(n)
            continue
        if prefix in _AGG_FN_NAMES:
            # Tajo plans an aggregate's non-bare-column argument as its
            # own (unnamed) target first, consuming a sequence slot
            inner = n
            if _COALESCED_SUM_DISTINCT_RE.match(n):
                inner = n[n.lower().index("sum("):].rsplit(",", 1)[0]
            m = _EXPR_FN_RE.match(inner)
            arg = inner[m.end(): inner.rfind(")")] if m else ""
            if not _BARE_ARG_RE.match(arg):
                seq += 1
        out.append(f"?{prefix}" + (f"_{seq}" if seq > 0 else ""))
        seq += 1
        changed = True
    return df.toDF(*out) if changed else df


class Engine:
    """A Tajo-capability SQL engine over a SparkSession."""

    def __init__(self, spark: SparkSession | None = None) -> None:
        self.spark = spark or build_spark(app_name="tajo_spark_engine")
        self.session_vars: dict[str, str] = {}
        # CREATE INDEX metadata (IndexDesc.java parity) and the storage
        # paths of tables registered via create_external_table (needed
        # so an index rewrite knows where to persist the clustering)
        self.indexes: dict[str, dialect.IndexStatement] = {}
        self._external_paths: dict[str, tuple[str, str]] = {}
        register_all(self.spark)

    # ---- query execution ---------------------------------------------------
    def execute_sql(self, sql: str) -> DataFrame | None:
        """Execute one statement (query, DDL, INSERT, or SET SESSION).

        Returns a DataFrame for queries, None for session directives.
        """
        directive = dialect.parse_session_statement(sql)
        if directive is not None:
            return self._apply_directive(directive)
        idx = dialect.parse_index_statement(sql)
        if idx is not None:
            if idx.kind == "create":
                self.create_index(idx.name, idx.table, list(idx.cols))
            else:
                self.drop_index(idx.name)
            return None
        m_ex = _re.match(
            r"^\s*EXPLAIN\s+(GLOBAL\s+)?(SELECT\b[\s\S]*)$",
            sql,
            _re.IGNORECASE,
        )
        if m_ex is not None:
            # Tajo returns EXPLAIN output as a one-column result set
            # named 'explain' (QueryExecutor.java:126)
            text = (
                self.explain_global(m_ex.group(2))
                if m_ex.group(1)
                else self.explain(m_ex.group(2))
            )
            return self.spark.createDataFrame(
                [(line,) for line in text.split("\n")], "explain STRING"
            ).coalesce(1)
        m_rc = _re.match(
            r"^\s*ALTER\s+TABLE\s+([\w.\"`]+)\s+RENAME\s+COLUMN\s+"
            r"([\w\"`]+)\s+TO\s+([\w\"`]+)\s*$",
            sql,
            _re.IGNORECASE,
        )
        if m_rc is not None:
            return self._rename_column(
                *(g.strip('`"') for g in m_rc.groups())
            )
        translated = dialect.translate(sql)
        ctas_check = dialect.pop_ctas_check()
        if ctas_check is not None:
            self._ensure_ctas_domains(*ctas_check)
        return _tajo_autonames(self._sql(translated))

    def _pad_insert_columns(self, translated: str) -> str:
        """Rewrite ``INSERT ... TABLE t <select>`` with an explicit
        prefix column list sized to the select's arity (see the
        NOT_ENOUGH_DATA_COLUMNS recovery above).  Returns the input
        unchanged when the statement shape doesn't match."""
        m = _re.match(
            r"^\s*(INSERT\s+(?:OVERWRITE\s+TABLE|INTO\s+(?:TABLE\s+)?))"
            r"\s*([\w.`\"]+)\s+(\(?\s*SELECT\b[\s\S]*)$",
            translated,
            _re.IGNORECASE,
        )
        if not m:
            return translated
        head, target, sel = m.groups()
        try:
            arity = len(
                self.spark.sql(
                    f"SELECT * FROM ({sel.rstrip()}) __pad LIMIT 0"
                ).columns
            )
            cols = self.spark.table(target.strip('`"')).columns[:arity]
        except Exception:
            return translated
        if len(cols) != arity:
            return translated
        collist = ", ".join(f"`{c}`" for c in cols)
        return f"{head} {target} ({collist}) {sel}"

    def _rename_column(self, table: str, old: str, new: str) -> None:
        """ALTER TABLE ... RENAME COLUMN (AlterTableNode RENAME_COLUMN,
        DDLExecutor renameColumn — a pure catalog mutation in the
        reference).  Spark's v1 catalog refuses RENAME COLUMN, so after
        trying the native path the fallback REWRITES the table under
        the new schema (read → withColumnRenamed → staging table →
        swap).  Honest cost note: the reference mutates metadata only
        (its TEXT tables bind columns positionally); a columnar store
        binds by NAME, so a rewrite is the price of the rename — at
        100 TB prefer adding a projection view.
        """
        try:
            self.spark.sql(
                f"ALTER TABLE {table} RENAME COLUMN `{old}` TO `{new}`"
            )
            return None
        except Exception as exc:
            if "UnsupportedOperationException" not in type(exc).__name__ \
                    and "v2" not in str(exc) and "NOT_SUPPORTED" not in str(exc):
                raise
        df = self.spark.table(table).withColumnRenamed(old, new)
        if new not in df.columns or old in df.columns:
            raise ValueError(
                f"column {old!r} not found in {table} for RENAME COLUMN"
            )
        parts = table.split(".")
        tmp = ".".join(parts[:-1] + [parts[-1] + "__rename_tmp"])
        df.write.mode("overwrite").format("parquet").saveAsTable(tmp)
        self.spark.sql(f"DROP TABLE {table}")
        self.spark.sql(f"ALTER TABLE {tmp} RENAME TO {table}")
        return None

    def _ensure_ctas_domains(
        self, declared: list[str | None], sel: str
    ) -> None:
        """LogicalPlanVerifier.ensureDomains:243 replay: each CTAS
        declared-schema position must be Tajo-castable from the
        select's output type (dialect.TAJO_CASTABLE — the reference's
        OPERATION_CASTING_MAP).  Analysis-only: LIMIT 0, no job.
        Routed through _sql so the Tajo-laxity parse recoveries
        (branch-level ORDER BY before a set operator) apply here the
        same as they will on the actual CTAS execution."""
        src = self._sql(f"SELECT * FROM ({sel}) __tajo_dom LIMIT 0")
        fields = src.schema.fields
        for i, tgt_text in enumerate(declared):
            if tgt_text is None or i >= len(fields):
                continue
            src_t = dialect.tajo_type_of(fields[i].dataType.simpleString())
            tgt_t = dialect.tajo_type_of(tgt_text)
            if src_t is None or tgt_t is None or src_t == "NULL":
                continue
            if tgt_t not in dialect.TAJO_CASTABLE.get(src_t, set()):
                raise dialect.CtasDataTypeMismatch(
                    f"data type mismatch at position {i + 1}: "
                    f"{src_t} ({fields[i].name}) is not compatible "
                    f"with declared {tgt_t}"
                )

    _INTEGRAL_TYPES = frozenset(("tinyint", "smallint", "int", "bigint"))

    def _tajo_typed_division(
        self, sql: str, depth: int = 0, prefix: str = ""
    ) -> str:
        """Tajo types ``/`` from the catalog (ExprAnnotator.java):
        INTn / INTn is truncating integer division; Spark's ``/``
        always yields DOUBLE. For each division in the TOP-LEVEL
        select list, an analysis-only probe (append
        ``struct(X, Y) AS marker``, LIMIT-0 style — no job) asks the
        analyzer for the operands' types in the query's own scope; a
        site whose BOTH operands are provably integral rewrites to
        Spark's ``div`` (verified Java truncation-toward-zero
        semantics: -7 div 2 = -3). Sites the probe cannot type —
        subquery-scoped operands, set-operation branches, anything
        unparseable — are left on ``/`` unchanged, so the rewrite can
        only ever move a site TOWARD the reference's semantics
        (goldens: TestInnerJoinQuery/testJoinCoReferredEvalsWithSame
        Exprs1/2, previously known-divergence). Covered clauses:
        select list, WHERE, GROUP BY, HAVING, ORDER BY (same name
        scope as the probe). Subquery and CTE bodies — every outermost
        ``(SELECT ...)`` span — are recursed into as standalone
        statements with their own probes (r09 task 4): an uncorrelated
        body types against the catalog on its own; a correlated body's
        probe fails analysis and its sites stay on ``/``. Set-operation
        BRANCHES probe standalone per branch (r10 —
        dialect.setop_branch_spans: a lone branch has no arity
        contract, so the appended probe item analyzes fine). A WITH
        statement is handled structurally (r11, ADVICE r10): the main
        body probes with the whole WITH clause as a PREFIX, each CTE
        body probes with the PRECEDING CTEs as its prefix
        (dialect.cte_body_spans), and subquery recursion threads the
        enclosing scope's prefix — so a scope referencing a CTE name
        always types from the CTE's schema, never from a same-named
        catalog table, and main-body subqueries are probed exactly
        once.
        Residual: correlated subqueries (their probe cannot analyze
        standalone) and the unparenthesized select bodies of
        CTAS/INSERT (the site finder keys on a bare leading SELECT;
        parenthesized subqueries inside them still recurse). All
        residuals keep Spark double typing, no reference golden
        exercises any of them — and the correlated case is VACUOUS as
        a parity matter: the reference throws
        NotImplementedException("Correlated subquery") the moment a
        column binds to an outer block (NameResolver.java:160-167;
        EXISTS dies even earlier, ExprAnnotator.java:412), so no Tajo
        typing exists for the fail-safe to diverge from (proof pinned
        in tests/test_engine.py::
        test_typed_division_correlated_residual_is_unreachable_in_reference).
        """
        try:
            branches = dialect.setop_branch_spans(sql)
        except Exception:
            branches = []
        # a set-op statement's whole-statement probe is DOOMED (the
        # appended item breaks branch arity), so skip straight to the
        # per-branch pass instead of burning 1 batched + 2-per-site
        # failed analyzer calls first (r10 review finding)
        out = sql if branches else self._typed_division_one_scope(
            sql, prefix
        )
        mstart = None
        if depth < 4 and not prefix:
            try:
                mstart = dialect.with_main_start(out)
            except Exception:
                mstart = None
        if mstart is not None:
            # WITH statement: handle each CTE body and then the main
            # body STRUCTURALLY, each probed with the prefix that binds
            # exactly the CTE names visible in its scope — CTE body k
            # sees CTEs 1..k-1, the main body sees the whole WITH
            # clause (ADVICE r10 medium: a standalone probe of a scope
            # that references a CTE name could bind a same-named
            # catalog table and type the division from the wrong
            # schema). This replaces the flat subquery-spans pass for
            # WITH statements, which both probed main-body subqueries
            # twice (ADVICE r10 low) and probed CTE bodies prefix-less.
            # Order matters (r11 review): FORWARD over the CTE chain,
            # reparsing spans after each rewrite, so a successor that
            # divides by a predecessor's REWRITTEN division column is
            # probed against the post-rewrite (integral) typing — a
            # stale prefix could only MISS rewrites (div is never less
            # integral than /), but the miss diverges from the
            # reference on chained integer division. Main body LAST,
            # with the fully-rewritten WITH clause as its prefix.
            k = 0
            while depth < 4:
                try:
                    ctes = dialect.cte_body_spans(out)
                except Exception:
                    ctes = []
                if k >= len(ctes):
                    break
                bstart, bend, _def_end = ctes[k]
                inner = out[bstart:bend]
                if "/" in inner:
                    pfx = (out[: ctes[k - 1][2]] + " ") if k else ""
                    new_inner = self._tajo_typed_division(
                        inner, depth + 1, prefix=pfx
                    )
                    if new_inner != inner:
                        out = out[:bstart] + new_inner + out[bend:]
                k += 1
            try:
                mstart = dialect.with_main_start(out)
            except Exception:
                mstart = None
            if mstart is not None and "/" in out[mstart:]:
                seg = out[mstart:]
                new_seg = self._tajo_typed_division(
                    seg, depth + 1, prefix=out[:mstart]
                )
                out = out[:mstart] + new_seg
            return out
        if depth < 4:
            try:
                branches = dialect.setop_branch_spans(out)
            except Exception:
                branches = []
            for start, end in reversed(branches):
                seg = out[start:end]
                if "/" not in seg:
                    continue
                new_seg = self._typed_division_one_scope(seg, prefix)
                if new_seg != seg:
                    out = out[:start] + new_seg + out[end:]
        if depth < 4:
            try:
                spans = dialect.outer_select_spans(out)
            except Exception:
                return out
            for start, end in reversed(spans):
                inner = out[start + 1 : end - 1]
                if "/" not in inner:
                    continue
                # prefix threads through so a subquery referencing a
                # CTE name probes in the scope that binds it (ADVICE
                # r10 medium)
                new_inner = self._tajo_typed_division(
                    inner, depth + 1, prefix=prefix
                )
                if new_inner != inner:
                    out = out[: start + 1] + new_inner + out[end - 1 :]
        return out

    def _typed_division_one_scope(self, sql: str, prefix: str = "") -> str:
        """The single-scope probe+rewrite body of
        :meth:`_tajo_typed_division` (which owns the scope recursion).
        ``prefix`` is prepended to every probe statement (a WITH clause
        whose CTE names the scope references) but never rewritten."""
        try:
            sites, insert_at = dialect.top_level_division_sites(sql)
        except Exception:
            return sql
        if not sites or insert_at < 0:
            return sql
        integral: list[tuple[int, int, int, int, int]] = []
        # fast path: one probe carrying EVERY site (~8 ms/probe
        # measured) — falls back to per-site probing when any single
        # site makes the combined statement unanalyzable
        if len(sites) > 1:
            items = ", ".join(
                f"struct({sql[ls:le]}, {sql[rs:re_]}) AS __tajodiv_p{i}"
                for i, (ls, le, _s, rs, re_) in enumerate(sites)
            )
            probe = (
                prefix + sql[:insert_at] + ", " + items + " " + sql[insert_at:]
            )
            try:
                schema = self.spark.sql(probe).schema
                for i, site in enumerate(sites):
                    fld = schema[f"__tajodiv_p{i}"].dataType
                    kinds = [
                        f.dataType.simpleString() for f in fld.fields
                    ]
                    if all(k in self._INTEGRAL_TYPES for k in kinds):
                        integral.append(site)
                sites = []  # resolved — skip the per-site loop
            except Exception:
                pass  # per-site fallback below
        for ls, le, slash, rs, re_ in sites:
            x, y = sql[ls:le], sql[rs:re_]
            for wrap in ("struct({x}, {y})", "struct(min({x}), min({y}))"):
                probe = (
                    prefix
                    + sql[:insert_at]
                    + ", "
                    + wrap.format(x=x, y=y)
                    + " AS __tajodiv_probe "
                    + sql[insert_at:]
                )
                try:
                    schema = self.spark.sql(probe).schema
                    fld = schema["__tajodiv_probe"].dataType
                    kinds = [f.dataType.simpleString() for f in fld.fields]
                except Exception:
                    continue
                if all(k in self._INTEGRAL_TYPES for k in kinds):
                    integral.append((ls, le, slash, rs, re_))
                break  # first analyzable probe decides the site
        out = sql
        for _ls, _le, slash, _rs, _re in sorted(
            integral, key=lambda s: -s[2]
        ):
            out = out[:slash] + " div " + out[slash + 1 :]
        return out

    def _sql(self, translated: str) -> DataFrame:
        """spark.sql with the mixed-UDAF fallback (agg_fallback.py):
        Tajo runs Python UDAFs and built-in aggregates in one per-group
        loop; Spark refuses that placement, so on that exact error the
        statement retries with built-ins rewritten to pandas twins."""
        translated = agg_fallback.inject_zero_arg_constants(translated)
        if "/" in translated:
            translated = self._tajo_typed_division(translated)
        try:
            df = self.spark.sql(translated)
        except Exception as exc:
            # Tajo laxities are recovered only after the strict path
            # failed, so conforming queries are never rewritten:
            #   * PARSE_SYNTAX_ERROR → branch-level ORDER BY directly
            #     before a set operator (dialect.drop_preunion_orderby)
            #   * UNRESOLVED_COLUMN → SELECT alias in WHERE / stale
            #     qualifier (dialect.recover_name_resolution)
            msg = str(exc)
            if "PARSE_SYNTAX_ERROR" in msg:
                recovered = dialect.drop_preunion_orderby(translated)
            elif "UNRESOLVED_COLUMN" in msg:
                recovered = dialect.recover_name_resolution(translated)
            elif "NOT_ENOUGH_DATA_COLUMNS" in msg:
                # Tajo INSERT with FEWER select columns than the target
                # fills the remaining columns with NULL positionally
                # (InsertNode projection; golden:
                # TestInsertQuery/testInsertOverwriteSmallerColumns).
                # Spark needs an explicit prefix column list + the
                # useNullsForMissingDefaultValues conf (session.py).
                recovered = self._pad_insert_columns(translated)
            else:
                raise
            if recovered == translated:
                raise
            try:
                df = self.spark.sql(recovered)
            except Exception:
                # the rewrite didn't help — surface the ORIGINAL
                # error about the user's own SQL, not one about the
                # internally generated retry text
                raise exc from None
            translated = recovered
        low = translated.lower()
        if any(n.lower() in low for n in agg_fallback.LOADED_AGGREGATES):
            # the placement check fires at physical planning, not at
            # analysis — force it now (plan is cached, not recomputed)
            try:
                df._jdf.queryExecution().executedPlan()
            except Exception as exc:
                if agg_fallback.MIXED_PLACEMENT_ERROR not in str(exc):
                    raise
                # the original statement ANALYZED fine (the placement
                # check fires at physical planning), so its schema is
                # the authoritative one — the pandas twins rename
                # columns (__pd_sum(x)) and widen integral aggregates
                # to double; restore names and types positionally
                orig = df.schema
                agg_fallback.register_twins(self.spark)
                df = self.spark.sql(
                    agg_fallback.rewrite_uniform_pandas(translated)
                )
                df = df.toDF(*[f.name for f in orig])
                if len({f.name for f in orig}) == len(orig) and any(
                    a.dataType != b.dataType
                    for a, b in zip(df.schema, orig)
                ):
                    from pyspark.sql import functions as F

                    df = df.select(
                        *[
                            F.col(f"`{f.name}`")
                            .cast(orig[i].dataType)
                            .alias(orig[i].name)
                            for i, f in enumerate(df.schema)
                        ]
                    )
        return df

    # tsql-compatible alias
    sql = execute_sql

    def execute_script(self, script: str) -> list[DataFrame | None]:
        """Run a multi-statement script, statement by statement — the
        tsql file mode (TajoCli reads statements via SimpleParser,
        tajo-cli/.../TajoCli.java:59). Splits on ';' outside quotes;
        '--' line comments stripped. Returns per-statement results."""
        return [self.execute_sql(stmt) for stmt in split_statements(script)]

    def explain(self, sql: str, mode: str = "formatted") -> str:
        """EXPLAIN parity (QueryExecutor.java:126): Tajo's logical-plan
        dump when the statement is the single-scan projection shape
        Tajo's own golden pins (plans/explain_tajo.render_logical,
        byte-exact vs testExplainSelect.result); otherwise the formatted
        Catalyst physical plan — the honest surface for plans the
        reference could not produce."""
        from tajo_spark.plans import explain_tajo

        tajo = explain_tajo.render_logical(self.spark, sql)
        if tajo is not None:
            return tajo
        df = self._sql(dialect.translate(sql))
        return df._jdf.queryExecution().explainString(
            self.spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                mode
            )
        )

    def explain_global(self, sql: str) -> str:
        """EXPLAIN GLOBAL parity (QueryExecutor.java:126 → MasterPlan
        dump): the distributed stage DAG in Tajo's rendering —
        Execution Block Graph, Order of Execution, one plan section
        per block — derived from the REAL Catalyst physical plan
        (blocks are the exchange-delimited stage slices; broadcasts
        stay inside their consuming block, BroadcastJoinRule parity)."""
        from tajo_spark.plans import explain_tajo

        df = self._sql(dialect.translate(sql))
        return explain_tajo.render_global(df)

    # ---- session variables -------------------------------------------------
    def _apply_directive(self, d: dialect.SessionDirective) -> None:
        if d.kind == "timezone":
            if d.value is None:  # SET TIME ZONE DEFAULT
                self.spark.conf.unset("spark.sql.session.timeZone")
                self.session_vars.pop("TIMEZONE", None)
                return None
            self.spark.conf.set("spark.sql.session.timeZone", d.value)
            self.session_vars["TIMEZONE"] = d.value
            return None
        if d.kind == "catalog":
            # Tajo has exactly one catalog; switch database when one of
            # that name exists, otherwise record the selection only
            self.session_vars["CATALOG"] = d.value
            dbs = [db.name for db in self.spark.catalog.listDatabases()]
            if d.value in dbs:
                self.spark.catalog.setCurrentDatabase(d.value)
            return None
        if d.kind == "unset":
            self.session_vars.pop(d.key, None)
            spec = SESSION_VARS.get(d.key)
            if spec and spec.spark_conf:
                self.spark.conf.unset(spec.spark_conf)
            return None
        self.set_session(d.key, d.value)
        return None

    def set_session(self, key: str, value: str) -> None:
        key = key.upper()
        self.session_vars[key] = value
        spec = SESSION_VARS.get(key)
        if spec and spec.spark_conf:
            self.spark.conf.set(spec.spark_conf, value)

    def show_session(self) -> dict[str, str]:
        return dict(self.session_vars)

    # ---- catalog façade (DDLExecutor.java parity) --------------------------
    def create_external_table(
        self,
        name: str,
        path: str,
        fmt: str = "PARQUET",
        options: dict[str, str] | None = None,
        schema: str | None = None,
    ) -> None:
        """CREATE EXTERNAL TABLE ... USING fmt WITH (...) LOCATION path."""
        spark_fmt = dialect.FORMAT_MAP.get(fmt.upper(), fmt.lower())
        if spark_fmt is None:
            # RCFILE/SEQUENCEFILE have no Spark datasource but read fine
            # through the Hive serde layer when the session has Hive
            # support (sources/hive_formats.py; RCFile.java:328 parity)
            from tajo_spark.sources import hive_formats

            if options:
                # the serde route has no reader-option surface; dropping
                # WITH (...) silently would diverge from the datasource
                # formats' behavior
                raise NotImplementedError(
                    f"WITH (...) options are not supported for Hive-serde "
                    f"format {fmt}: {sorted(options)}"
                )
            if hive_formats.hive_support_available(self.spark) and schema:
                ddl = dialect.translate_column_defs(
                    dialect.convert_record_types(schema)
                )
                hive_formats.read_stored_as(
                    self.spark, path, ddl, fmt.upper()
                ).createOrReplaceTempView(name)
                self._external_paths[name] = (path, fmt.upper())
                return
            raise NotImplementedError(
                f"format {fmt} unsupported on Spark without Hive support"
                " (enableHiveSupport() + an explicit schema unlock it)"
            )
        if spark_fmt == "avro" and not options and not schema:
            # self-describing (schema rides in the container header);
            # formats.read_avro prefers spark-avro and falls back to the
            # pure-Python codec, so USING AVRO works on a bare install
            from tajo_spark.sources import formats as _formats

            _formats.read_avro(self.spark, path).createOrReplaceTempView(
                name
            )
            self._external_paths[name] = (path, "avro")
            return
        reader = self.spark.read.format(spark_fmt)
        if (
            spark_fmt == "json"
            and not schema
            and self.session_vars.get(
                "SELF_DESC_TEXT_TYPING", ""
            ).lower() in ("true", "on", "1")
        ):
            # reference self-desc typing: every primitive is TEXT
            reader = reader.option("primitivesAsString", "true")
        for k, v in (options or {}).items():
            sk = dialect.OPTION_MAP.get(k.lower(), k)
            if sk == "header":  # Tajo counts header lines; Spark wants bool
                v = "true" if str(v).strip() not in ("", "0") else "false"
            reader = reader.option(sk, v)
        if schema:
            reader = reader.schema(
                dialect.translate_column_defs(
                    dialect.convert_record_types(schema)
                )
            )
        reader.load(path).createOrReplaceTempView(name)
        self._external_paths[name] = (path, spark_fmt)

    # ---- table statistics (TableStats.java parity: the catalog's
    # numRows/numBytes that drive cost-based planning) --------------------
    def analyze_table(
        self, name: str, columns: list[str] | None = None
    ) -> None:
        """Collect catalog statistics for ``name`` — the reference
        keeps TableStats (rows, bytes) on every table and its
        optimizer consumes them; Spark's equivalent is ANALYZE TABLE
        feeding the CBO (session.py enables spark.sql.cbo.* — without
        stats, join reordering degrades to heuristics)."""
        if (
            name in self._external_paths
            or self.spark.catalog.tableExists(name)
            and any(
                t.name == name.split(".")[-1] and t.tableType == "TEMPORARY"
                for t in self.spark.catalog.listTables()
            )
        ):
            raise NotImplementedError(
                f"ANALYZE TABLE needs a catalog table; {name!r} is a "
                "temp view (create_external_table registers views) — "
                "persist it first (CTAS / saveAsTable), as with "
                "CREATE INDEX on serde formats"
            )
        if columns:
            cols = ", ".join(columns)
            self.spark.sql(
                f"ANALYZE TABLE {name} COMPUTE STATISTICS "
                f"FOR COLUMNS {cols}"
            )
        else:
            self.spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS")

    def table_stats(self, name: str) -> dict[str, int | None]:
        """(numRows, sizeInBytes) from the catalog, or None when never
        analyzed — the TableStats read side."""
        rows = self.spark.sql(f"DESCRIBE TABLE EXTENDED {name}").collect()
        stats = next(
            (r.data_type for r in rows if r.col_name == "Statistics"), None
        )
        out: dict[str, int | None] = {"num_rows": None, "size_bytes": None}
        if stats:
            import re as _re

            m = _re.search(r"(\d+) bytes", stats)
            if m:
                out["size_bytes"] = int(m.group(1))
            m = _re.search(r"(\d+) rows", stats)
            if m:
                out["num_rows"] = int(m.group(1))
        return out

    def drop_table(self, name: str) -> None:
        self.spark.catalog.dropTempView(name)
        self._external_paths.pop(name, None)

    # ---- CREATE INDEX (StoreIndexExec.java:39 / BSTIndexScanExec.java:46
    # parity, Spark-first) ---------------------------------------------------
    def create_index(
        self,
        name: str,
        table: str,
        cols: list[tuple[str, bool]],
    ) -> None:
        """Re-cluster ``table``'s storage on the index key.

        The reference builds a two-level BST file so selective key
        predicates seek instead of scanning (BSTIndex.java:58). Spark's
        native analogue is LAYOUT, not a side file: range-partition the
        data on the key and sort within partitions, so every parquet
        file/row-group covers a tight disjoint key range and the pushed
        filter (PushedFilters in the scan) skips everything else. Same
        read-amplification win, zero extra structures to maintain.

        At 100 TB the rewrite is ONE range shuffle + write (identical
        cost to a global sort); production would stage to a new
        directory and swap atomically — here the materialized snapshot
        (localCheckpoint) makes read-then-overwrite safe in one step.
        """
        from pyspark.sql import functions as F

        df = self.spark.table(table)
        missing = [c for c, _ in cols if c not in df.columns]
        if missing:
            raise ValueError(f"index columns not in {table}: {missing}")
        sort_cols = [
            F.col(c).asc() if asc else F.col(c).desc() for c, asc in cols
        ]
        n = max(self.spark.sparkContext.defaultParallelism, 1)
        snap = (
            df.repartitionByRange(n, *sort_cols)
            .sortWithinPartitions(*sort_cols)
            .localCheckpoint()
        )
        if table in self._external_paths:
            path, fmt = self._external_paths[table]
            if fmt.upper() in ("RCFILE", "SEQUENCEFILE"):
                raise NotImplementedError(
                    f"CREATE INDEX cannot rewrite Hive-serde format {fmt}"
                )
            snap.write.format(fmt).mode("overwrite").save(path)
            self.spark.read.format(fmt).load(path).createOrReplaceTempView(
                table
            )
        else:
            # tableExists is true for temp views too — only a PERSISTENT
            # catalog table has storage an index rewrite can reach
            try:
                ttype = self.spark.catalog.getTable(table).tableType
            except Exception:
                ttype = None
            if ttype in ("MANAGED", "EXTERNAL"):
                snap.write.mode("overwrite").saveAsTable(table)
                self.spark.catalog.refreshTable(table)
            else:
                raise ValueError(
                    f"cannot index {table}: temp view with no tracked "
                    "storage (register it via create_external_table or "
                    "save it first)"
                )
        self.indexes[name] = dialect.IndexStatement(
            "create", name, table, tuple(cols)
        )

    def drop_index(self, name: str) -> None:
        """DROP INDEX — metadata only: the clustered layout stays (it
        is plain data layout, not a structure needing maintenance)."""
        self.indexes.pop(name, None)

    def table(self, name: str) -> DataFrame:
        return self.spark.table(name)

    def tables(self, database: str | None = None) -> list[str]:
        """tsql ``\\d`` — list tables (TajoCli meta-command parity)."""
        args = (database,) if database else ()
        return [t.name for t in self.spark.catalog.listTables(*args)]

    def databases(self) -> list[str]:
        """tsql ``\\l`` — list databases."""
        return [d.name for d in self.spark.catalog.listDatabases()]

    def describe_table(self, name: str) -> list[tuple[str, str]]:
        """tsql ``\\d <table>`` — (column, type) pairs."""
        return [
            (f.name, f.dataType.simpleString())
            for f in self.spark.table(name).schema.fields
        ]

    def functions(self, pattern: str | None = None) -> list[str]:
        """tsql ``\\df`` — list functions (built-ins + registered UDFs);
        reference analogue: FunctionsResource / catalog function list."""
        fns = [f.name for f in self.spark.catalog.listFunctions()]
        if pattern:
            fns = [f for f in fns if pattern.lower() in f.lower()]
        return sorted(fns)

    # ---- JDBC wire protocol --------------------------------------------
    def serve_jdbc(self, port: int = 26002, host: str = "127.0.0.1"):
        """JDBC wire-protocol entry point — the reference's fourth
        client surface (tajo-jdbc TajoDriver.java:25 exposes
        ``jdbc:tajo://host:port`` to BI tools; default client port
        26002, tajo-common/.../conf/TajoConf.java:138
        TAJO_MASTER_CLIENT_RPC_ADDRESS).
        Spark's idiomatic twin is the embedded HiveServer2-protocol
        Thrift server: any HiveServer2 JDBC/ODBC driver connects with
        ``jdbc:hive2://host:port`` and queries run on THIS engine's
        session — temp views, registered UDFs, and session state
        included, because ``build_spark`` pins
        ``spark.sql.hive.thriftServer.singleSession=true`` (one shared
        catalog for all clients, the TajoMaster deployment shape).

        Returns the server handle (call ``.stop()`` to shut down).
        Classpath-gated like the Kafka JVM source: raises RuntimeError
        with the deployment recipe when the spark-hive-thriftserver
        jar is absent (it ships with the pyspark wheel used here)."""
        jvm = self.spark._jvm
        try:
            jvm.java.lang.Class.forName(
                "org.apache.spark.sql.hive.thriftserver.HiveThriftServer2"
            )
        except Exception as exc:  # pragma: no cover - jar ships here
            raise RuntimeError(
                "JDBC entry point needs spark-hive-thriftserver on the "
                "driver classpath (ships with the pyspark wheel; for a "
                "bare-Spark deployment add the "
                "spark-hive-thriftserver_2.13 jar matching your Spark "
                "version)."
            ) from exc
        # HiveConf-read settings: must be on the session conf before
        # start (the server snapshots them at init)
        self.spark.conf.set("hive.server2.thrift.port", str(port))
        self.spark.conf.set("hive.server2.thrift.bind.host", host)
        return jvm.org.apache.spark.sql.hive.thriftserver.HiveThriftServer2.startWithContext(
            self.spark._jsparkSession.sqlContext()
        )
