"""DBAPI-2.0 (PEP-249) surface over spark.sql.

Reference parity: ``opteryx/cursor.py:39-66,175-239`` (Cursor extends a
DataFrame with execute/fetchone/description/rowcount) and
``opteryx/__init__.py:150-264`` (``query``, ``query_to_arrow``).  Here the
cursor is a thin wrapper: the plan lives in Spark, and the first fetch of a
statement materializes its whole result in the Python process once, as one
Arrow table (``df.toArrow()``), which every fetch method, ``rowcount`` and
``arrow()`` then read — as the reference cursor holds its result.
"""

from __future__ import annotations

import datetime as _dt
import os
import threading
from collections import OrderedDict, namedtuple
from typing import Any
from urllib.parse import unquote, urlparse

from pyspark.errors import AnalysisException, ParseException
from pyspark.sql import DataFrame, SparkSession

from opteryx_spark import errors, results, rewriter, sqltext
from opteryx_spark.session import get_session, session_now
from opteryx_spark.sources import mabel_partitions
from opteryx_spark.sources import registry as _registry_mod
from opteryx_spark.sources.registry import SourceRegistry, read_any
from opteryx_spark.virtual import PLANET_DISCOVERY_CUTOFFS, register_virtual_datasets

Description = namedtuple(
    "Description",
    ["name", "type_code", "display_size", "internal_size", "precision", "scale", "null_ok"],
)

# default column carrying event time for temporal FOR filters, per table
DEFAULT_TIME_COLUMNS = {"events": "ts", "orders": "o_orderdate", "lineitem": "l_shipdate"}

# built-in views and prepared statements the reference ships as standard
# fixtures (reference testdata/views.json, testdata/prepared_statements.json;
# planner/views/__init__.py resolves them by name)
DEFAULT_VIEWS = {
    "mission_reports": (
        "SELECT s.name AS satellite_name FROM $satellites AS s "
        "INNER JOIN $planets AS p ON p.id = s.planetId"
    ),
    "launches": "SELECT Company, Mission, LENGTH(Location) AS LL FROM $missions",
    # reference testdata/views.json: row-permissions demo view
    "my_mission_reports": (
        "SELECT * FROM $astronauts "
        "WHERE ARRAY_CONTAINS_ANY(missions, @@user_memberships)"
    ),
}
# looked up case-insensitively (reference uppercases statement names,
# logical_planner.py:785-801, and ships PLANETS_BY_ID / VERSION built-ins)
DEFAULT_PREPARED = {
    "GET_SATELLITES_BY_PLANET_NAME": (
        "SELECT s.name AS satellite_name FROM $satellites AS s "
        "INNER JOIN $planets AS p ON p.id = s.planetId WHERE p.name = :name"
    ),
    "MULTIPLY_TWO_NUMBERS": "SELECT :one * :two",
    "PLANETS_BY_ID": "SELECT * FROM $planets WHERE id = :id",
    "VERSION": "SELECT version()",
}

# executed plans a connection keeps for repeated statements, oldest
# evicted first; each entry pins its DataFrame's shuffle files until then
PLAN_MAP_SIZE = 64
# plan leaves whose rows the plan itself or its input files fix
_PLAN_LEAVES = ("LocalRelation", "OneRowRelation", "Range")


class Connection:
    """PEP-249 Connection bound to a SparkSession + source registry."""

    def __init__(
        self,
        spark: SparkSession | None = None,
        registry: SourceRegistry | None = None,
        time_columns: dict[str, str] | None = None,
        prepared_statements: dict[str, str] | None = None,
        views: dict[str, str] | None = None,
        visibility_filters: dict[str, str] | None = None,
        user: str | None = None,
        memberships: list[str] | None = None,
    ):
        self.spark = spark or get_session()
        self.registry = registry or _registry_mod._DEFAULT
        self.variables: dict[str, Any] = {}
        self.user = user
        self.memberships = list(memberships or [])
        self.statistics: dict[str, Any] = {
            "queries_executed": 0,
            "statements_executed": 0,
            "plans_reused": 0,
        }
        # semantic hash of an optimized plan -> (plan, output schema and
        # input-file snapshot, the DataFrame that ran it); see _reuse_plan
        self._plans: OrderedDict[int, tuple] = OrderedDict()
        self._plans_lock = threading.Lock()
        self.time_columns = {**DEFAULT_TIME_COLUMNS, **(time_columns or {})}
        self.prepared_statements = {**DEFAULT_PREPARED}
        # ambient files first, explicit constructor args LAST — a
        # prepared_statements.json lying in cwd must not silently
        # override what the caller passed in
        for k, v in {
            **_load_json_file("prepared_statements.json"),
            **(prepared_statements or {}),
        }.items():
            self.prepared_statements[str(k).upper()] = v
        register_virtual_datasets(self.spark)
        from opteryx_spark.functions import register_sql_functions

        register_sql_functions(self.spark)
        # named views defined as SQL (reference planner/views/__init__.py):
        # registered lazily; retried at execute() time so views over
        # tables registered later still resolve
        self.views = {**DEFAULT_VIEWS}
        for k, v in _load_json_file("views.json").items():
            self.views[k] = v.get("statement") if isinstance(v, dict) else v
        self.views.update(views or {})  # explicit args win over ambient files
        self._pending_views = set(self.views)
        self._register_pending_views()
        # row-level visibility filters injected per table at resolution
        # (reference cursor.py:107-114); applied at query time so tables
        # registered after the connection cannot bypass them
        self.visibility_filters = dict(visibility_filters or {})
        self._apply_visibility_filters()

    def _expand_sysvars(self, sql: str) -> str:
        """``@@name`` server variables → literals (reference
        ``shared/variables.py`` resolves these at bind time)."""
        import re

        if "@@" not in sql:
            return sql
        from opteryx_spark.virtual import _SYSTEM_VARIABLES

        def repl(m):
            name = m.group(1)
            if name == "user_memberships":
                if self.memberships:
                    return "array" + sqltext.quote(self.memberships)
                return "CAST(array() AS ARRAY<STRING>)"
            if name not in self.variables and name not in _SYSTEM_VARIABLES:
                # reference shared/variables.py raises on unknown names —
                # a typo must not degrade to NULL-comparison semantics
                raise errors.ProgrammingError(f"unknown system variable: @@{name}")
            value = self.variables.get(name)
            if value is None and name in _SYSTEM_VARIABLES:
                value = _SYSTEM_VARIABLES[name][1]
            return sqltext.quote(value)

        return sqltext.map_outside_literals(
            sql, lambda seg: re.sub(r"@@(\w+)", repl, seg)
        )

    def _register_pending_views(self) -> None:
        for name in list(self._pending_views):
            try:
                self.spark.sql(
                    # views run outside the store-resolution pipeline, so
                    # deferred @? markers resolve to the string fallback
                    rewriter.finalize_atq(
                        rewriter.rewrite(self._expand_sysvars(self.views[name])).sql
                    )
                ).createOrReplaceTempView(name)
                self._pending_views.discard(name)
            except Exception:
                pass  # source table not registered yet; retried next execute

    def _refresh_context_views(self, stmt: str) -> None:
        """Re-register @@sysvar-dependent views with THIS connection's
        context before a statement references them: temp views live on the
        shared SparkSession, so another connection's registration (with its
        own memberships) must not leak into this one's query."""
        stmt_folded = stmt.lower()
        for name, view_sql in self.views.items():
            # Spark view names are case-insensitive: match the reference
            # case-insensitively so SELECT * FROM MY_VIEW still refreshes
            # my_view with this connection's context.
            if (
                "@@" in view_sql
                and name not in self._pending_views
                and name.lower() in stmt_folded
            ):
                try:
                    self.spark.sql(
                        rewriter.finalize_atq(
                            rewriter.rewrite(self._expand_sysvars(view_sql)).sql
                        )
                    ).createOrReplaceTempView(name)
                except Exception:
                    pass

    def _apply_visibility_filters(self) -> None:
        for table, predicate in self.visibility_filters.items():
            if "." in table:
                # a dotted name cannot be a temp-view name, and queries
                # writing store.table resolve through _resolve_store_refs
                # into fresh unfiltered store_* views — the filter would
                # silently not apply.  Reject loudly instead.
                raise errors.ProgrammingError(
                    f"visibility filters support single-part table names "
                    f"(got '{table}'); register the store table under a "
                    f"plain name (register_df / createOrReplaceTempView) "
                    f"and filter that"
                )
            if _is_view(self.spark, f"__unfiltered_{table}"):
                base = self.spark.table(f"__unfiltered_{table}")
            else:
                try:
                    base = self._relation(table)
                except Exception:
                    continue  # source genuinely unknown; retried next execute
            # keep the unfiltered original so re-application is idempotent
            base.createOrReplaceTempView(f"__unfiltered_{table}")
            base.filter(predicate).createOrReplaceTempView(table)

    def _relation(self, table: str) -> DataFrame:
        """``table`` as a session view, else through the source registry."""
        if _is_view(self.spark, table):
            return self.spark.table(table)
        return self.registry.resolve(self.spark, table)

    def _reuse_plan(self, df: DataFrame) -> tuple[DataFrame, tuple | None]:
        """The DataFrame that already ran ``df``'s optimized plan, with the
        same output schema and over the same input files, on this
        connection; else ``df`` and the key to remember it under once it
        has run.  AQE keeps a run DataFrame's materialized shuffle stages,
        so running it again runs only its result stage."""
        key = _plan_key(df)
        if key is None:
            return df, None
        digest, plan, snapshot = key
        with self._plans_lock:
            hit = self._plans.get(digest)
            if hit is not None and hit[1] == snapshot and plan.sameResult(hit[0]):
                if hit[2] is not df:  # a fetch after SET @v finds its own
                    self.statistics["plans_reused"] += 1
                return hit[2], None
        return df, key

    def _remember_plan(self, key: tuple, df: DataFrame) -> None:
        # a run that broadcast a relation is not kept: the entry would pin
        # the broadcast on the driver heap
        if "Broadcast" in df._jdf.queryExecution().executedPlan().toString():
            return
        digest, plan, snapshot = key
        with self._plans_lock:
            self._plans.pop(digest, None)
            self._plans[digest] = (plan, snapshot, df)
            if len(self._plans) > PLAN_MAP_SIZE:
                self._plans.popitem(last=False)

    def cursor(self) -> "Cursor":
        return Cursor(self)

    def commit(self) -> None:  # read-only engine, like the reference
        pass

    def close(self) -> None:
        pass


class Cursor:
    arraysize = 1

    def __init__(self, connection: Connection):
        self._conn = connection
        self._df: DataFrame | None = None
        self._clear_result()

    def _clear_result(self) -> None:
        self._table = None  # the statement's result, fetched once
        self._rows: list[tuple] | None = None  # the same rows as tuples
        self._pos = 0  # PEP-249 fetch position in _rows
        self._plan_checked = False  # _df looked up in the connection's plans

    # -- execution ----------------------------------------------------------

    def execute(self, sql: str, params: dict | list | None = None) -> "Cursor":
        spark = self._conn.spark
        self._conn.statistics["queries_executed"] += 1
        statements = rewriter.split_statements(rewriter.strip_comments(sql))
        if not statements:
            # reference raises MissingSqlStatement (errors/__init__.py)
            raise errors.ProgrammingError("no SQL statement to execute")
        with errors.boundary():
            for stmt in statements:
                self._conn.statistics["statements_executed"] += 1
                self._df = self._execute_one(spark, stmt, params)
        self._clear_result()
        return self

    def _execute_one(self, spark: SparkSession, stmt: str, params) -> DataFrame | None:
        import re

        set_m = re.match(r"SET\s+@(\w+)\s*=\s*(.+)", stmt, re.IGNORECASE)
        if set_m:
            self._conn.variables[set_m.group(1)] = _parse_literal(set_m.group(2))
            return self._df
        show_m = re.match(r"SHOW\s+@(\w+)", stmt, re.IGNORECASE)
        if show_m:
            name = show_m.group(1)
            return spark.createDataFrame(
                [(name, str(self._conn.variables.get(name)))], ["name", "value"]
            )
        # SHOW CREATE VIEW <v> (reference operators/show_create_node.py:40-47:
        # one column named after the view, one row holding its SQL)
        create_m = re.match(r"SHOW\s+CREATE\s+VIEW\s+([\w.$]+)\s*$", stmt, re.IGNORECASE)
        if create_m:
            name = create_m.group(1)
            # view resolution is case-insensitive everywhere else (Spark
            # temp views, _refresh_context_views) — match that here
            view_sql = self._conn.views.get(name)
            if view_sql is None:
                folded = {k.lower(): v for k, v in self._conn.views.items()}
                view_sql = folded.get(name.lower())
            if view_sql is None:
                raise errors.ProgrammingError(f"view not found: {name}")
            return spark.createDataFrame([(view_sql,)], [name])
        # SHOW COLUMNS FROM <t> (reference operators/show_columns_node.py)
        cols_m = re.match(
            r"SHOW\s+(?:FULL\s+|EXTENDED\s+)?COLUMNS\s+FROM\s+([\w.$']+)", stmt, re.IGNORECASE
        )
        if cols_m:
            from opteryx_spark.dialect import _VIRTUAL_COLUMN_ALIASES

            raw = cols_m.group(1).strip("'")
            for_m = re.match(r"\s+FOR\s+(.+)", stmt[cols_m.end() :], re.IGNORECASE | re.DOTALL)
            if for_m:
                df = self._temporal(spark, raw, for_m.group(1), session_now(spark))
            else:
                df = self._conn._relation(rewriter.rewrite_virtual_datasets(raw))
            # alias column mirrors the reference's FlatColumn.aliases surface
            amap = _VIRTUAL_COLUMN_ALIASES.get(raw.lstrip("$"), {})
            rev = {canon: [alias] for alias, canon in amap.items()}
            return spark.createDataFrame(
                [
                    (f.name, f.dataType.simpleString(), f.nullable, rev.get(f.name, []))
                    for f in df.schema.fields
                ],
                "name STRING, type STRING, nullable BOOLEAN, aliases ARRAY<STRING>",
            )
        # EXECUTE name(param=value, ...) — prepared statements from
        # prepared_statements.json (reference logical_planner.py:757-825)
        exec_m = re.match(r"EXECUTE\s+(\w+)\s*(?:\((.*)\))?\s*$", stmt, re.IGNORECASE | re.DOTALL)
        if exec_m:
            name = exec_m.group(1).upper()
            tmpl = self._conn.prepared_statements.get(name)
            if isinstance(tmpl, dict):  # reference JSON file shape
                tmpl = tmpl.get("statement")
            if tmpl is None:
                raise errors.ProgrammingError(f"prepared statement not found: {name}")
            bound = {}
            if exec_m.group(2):
                # named (id=1) or positional (1, 2) — positional binds to the
                # template's :params in appearance order
                positional = []
                for pair in sqltext.split_top_level(exec_m.group(2)):
                    # the value may hold '=' inside a quoted string
                    eq = sqltext.search_outside_literals(_EQ, pair)
                    if eq:
                        bound[pair[: eq.start()].strip()] = _parse_literal(pair[eq.end() :])
                    elif pair:
                        positional.append(_parse_literal(pair))
                if positional:
                    # parameter names in appearance order, deduped, `::`
                    # casts excluded
                    names = []
                    for n in re.findall(r"(?<!:)[:@](\w+)", tmpl):
                        if n not in names:
                            names.append(n)
                    for name, value in zip(names, positional):
                        bound.setdefault(name, value)
            return self._execute_one(spark, tmpl, bound or None)
        merged = dict(self._conn.variables)
        if isinstance(params, dict):
            merged.update(params)
        elif isinstance(params, (list, tuple)):
            # positional '?' binding happens first; session @vars (the
            # merged dict) still bind named references afterwards
            stmt = rewriter.bind_params(stmt, list(params))
        if re.search(r"\$(variables|statistics|user)\b", stmt):
            from opteryx_spark.virtual import register_session_state

            register_session_state(
                spark,
                self._conn.variables,
                self._conn.statistics,
                self._conn.user,
                self._conn.memberships,
            )
        self._conn._register_pending_views()
        self._conn._apply_visibility_filters()
        self._conn._refresh_context_views(stmt)
        stmt = self._conn._expand_sysvars(stmt)
        res = rewriter.rewrite(stmt, merged or None)
        # the statement's relations, bound by name in spark.sql (_sql)
        relations = {
            name: self._conn.registry.resolve(spark, path)
            # quoted dataset name ('testdata.planets'): the reference
            # resolves quoted relations through connectors too
            if not os.path.exists(path) and self._conn.registry._match_store(path)
            else read_any(spark, path)
            for name, path in res.path_tables.items()
        }
        sql = self._resolve_store_refs(spark, res.sql, relations)
        if res.temporal_filters:
            now = session_now(spark)
            for name, (table, spec) in res.temporal_filters.items():
                relations[name] = self._temporal(spark, table, spec, now)
        explain_m = re.match(
            r"EXPLAIN(\s+ANALYZE)?(?:\s+FORMAT\s+(\w+))?\s+(.*)",
            sql,
            re.IGNORECASE | re.DOTALL,
        )
        if explain_m:
            return self._explain(
                spark, explain_m.group(3), bool(explain_m.group(1)), explain_m.group(2), relations
            )
        try:
            return _ym_safe(_sql(spark, sql, relations))
        except ParseException:
            raise  # no type-dependent alternative for unparsable SQL
        except AnalysisException as exc:
            if errors.condition(exc) == "AMBIGUOUS_REFERENCE":
                # the reference resolves identifiers case-sensitively, so
                # `id` and `ID` coexist; analysis happens inside sql()
                prev = spark.conf.get("spark.sql.caseSensitive")
                spark.conf.set("spark.sql.caseSensitive", "true")
                try:
                    return _ym_safe(_sql(spark, sql, relations))
                except Exception:
                    raise exc
                finally:
                    spark.conf.set("spark.sql.caseSensitive", prev)
            alt = _type_fallback(sql, str(exc))
            if alt is not None:
                try:
                    return _ym_safe(_sql(spark, alt, relations))
                except Exception:
                    raise exc  # surface the original analysis error
            raise

    def _temporal(
        self, spark: SparkSession, table: str, spec: str, now: _dt.datetime
    ) -> DataFrame:
        """The rows of ``table`` that ``FOR <spec>`` selects, ``now`` being
        the statement's time in the session time zone."""
        start, end = rewriter.for_bounds(spec, now)
        if table.startswith("$"):
            # virtual datasets are static snapshots; $planets additionally
            # honours discovery history (reference planet_data.py temporal
            # semantics: fewer planets known before Uranus/Neptune/Pluto)
            base = spark.table(f"virtual_{table[1:]}")
            if table == "$planets":
                known = next((n for cutoff, n in PLANET_DISCOVERY_CUTOFFS if start < cutoff), 9)
                base = base.filter(f"id <= {known}")
            return base
        mroot = self._conn.registry.mabel_root(table)
        if mroot is not None:
            # date-partitioned store: FOR selects partition *paths*
            # (reference MabelPartitionScheme), not a column filter
            end = end or rewriter.for_bounds("TODAY", now)[1]
            return mabel_partitions.read_for_range(spark, mroot, start, end)
        col = self._conn.time_columns.get(table)
        if col is None:
            raise errors.ProgrammingError(
                f"temporal FOR clause on table '{table}' which has no "
                f"configured time column (Connection(time_columns={{'{table}': ...}}))"
            )
        cond = f"{col} >= TIMESTAMP '{start}'"
        if end is not None:
            cond += f" AND {col} < TIMESTAMP '{end}'"  # end bound is exclusive
        return self._conn._relation(table).filter(cond)

    def _explain(
        self, spark: SparkSession, inner: str, analyze: bool, fmt: str | None, relations: dict
    ):
        """Reference EXPLAIN surface (``managers/execution/serial_engine.py:69``):
        TEXT → (tree, operator, config) rows; ANALYZE adds runtime metric
        columns; MERMAID → one diagram cell; JSON/GRAPHVIZ → unsupported."""
        fmt = (fmt or "TEXT").upper()
        if fmt in ("JSON", "GRAPHVIZ"):
            raise errors.ProgrammingError(f"EXPLAIN FORMAT {fmt} is not supported")
        plan_df = _sql(spark, inner, relations)
        if analyze:
            # execute so runtime metrics exist — through the noop sink,
            # never materializing the result set on the driver
            plan_df.write.format("noop").mode("overwrite").save()
            text = plan_df._jdf.queryExecution().executedPlan().toString()
        else:
            text = plan_df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
            )
        nodes = _parse_plan_tree(text)
        if fmt == "MERMAID":
            lines = ["flowchart TD"]
            for i, (depth, op, _cfg) in enumerate(nodes):
                lines.append(f'  N{i}["{op}"]')
                for j in range(i + 1, len(nodes)):
                    if nodes[j][0] == depth - 1:
                        break
            for i in range(len(nodes) - 1):
                lines.append(f"  N{i + 1} --> N{i}")
            return spark.createDataFrame([("\n".join(lines),)], ["plan"])
        if analyze:
            rows = [
                (d, op, cfg, 0.0, 0, 0, 1)  # per-node metrics are engine-internal
                for d, op, cfg in nodes
            ]
            return spark.createDataFrame(
                rows,
                "tree INT, operator STRING, config STRING, time_ms DOUBLE, "
                "records_in BIGINT, records_out BIGINT, calls BIGINT",
            )
        return spark.createDataFrame(
            [(d, op, cfg) for d, op, cfg in nodes],
            "tree INT, operator STRING, config STRING",
        )

    def _resolve_store_refs(self, spark: SparkSession, sql: str, relations: dict) -> str:
        """``my_store.table`` references resolve through the source
        registry (reference dataset-prefix connectors,
        ``opteryx/connectors/__init__.py:96-104``) into ``relations``."""
        import re

        stores = self._conn.registry.stores
        has_atq = "__atq_exists(" in sql
        # the variant shadow view exposes __variant, which star expansion
        # would leak into the result schema — statements projecting any
        # `*` keep the plain read and the string-JSON @? fallback.  The
        # scan is literal-aware ('.*' inside an RLIKE pattern must not
        # trip it) and treats a `*` right after a closing comment as a
        # projection star too.
        star = False
        if has_atq:
            star_re = re.compile(r"(?:SELECT|\.|\*/)\s*\*", re.IGNORECASE)

            def _scan(seg: str) -> str:
                nonlocal star
                if star_re.search(seg):
                    star = True
                return seg

            sqltext.map_outside_literals(sql, _scan)
        want_variant = has_atq and not star
        variant_views: dict[str, list[str]] = {}
        if not stores:
            # deferred @? markers MUST resolve even without stores — the
            # string-JSON fallback is always valid SQL
            return rewriter.finalize_atq(sql) if has_atq else sql
        pattern = re.compile(r"\b(\w+)\.([A-Za-z_][\w.]*)")

        def sub(seg: str) -> str:
            def repl(m):
                prefix, rest = m.group(1), m.group(2)
                if prefix not in stores:
                    return m.group(0)
                view = f"store_{prefix}_{rest.replace('.', '_')}"
                df = self._conn.registry.resolve(
                    spark, f"{prefix}.{rest}", with_variant=want_variant
                )
                relations[view] = df
                if want_variant and "__variant" in df.columns:
                    variant_views[view] = df.columns
                return view

            return pattern.sub(repl, seg)

        sql = sqltext.map_outside_literals(sql, sub)
        if has_atq:
            sql = rewriter.finalize_atq(sql, variant_views if want_variant else None)
        return sql

    # -- results ------------------------------------------------------------

    @property
    def df(self) -> DataFrame:
        if self._df is None:
            raise errors.ProgrammingError("no statement executed")
        return self._df

    def _run(self, action):
        """``action(df)`` for the statement's DataFrame ``df``: the first
        run swaps in the DataFrame that already ran the same plan on this
        connection, if any, and remembers its own once it succeeds."""
        df, key = self.df, None
        if not self._plan_checked:
            self._plan_checked = True
            df, key = self._conn._reuse_plan(df)
            self._df = df
        with errors.boundary():
            out = action(df)
        if key is not None:
            self._conn._remember_plan(key, df)
        return out

    @property
    def description(self) -> list[Description] | None:
        if self._df is None:
            return None
        return [
            Description(f.name, f.dataType.simpleString(), None, None, None, None, f.nullable)
            for f in self._df.schema.fields
        ]

    def _all_rows(self) -> list[tuple]:
        """The result as tuples, converted from the Arrow table unless a
        column's type needs the ``collect`` fallback."""
        if self._rows is None:
            if results.arrow_convertible(self.df.schema):
                binary = results.binary_type(self._conn.spark)
                self._rows = results.table_rows(self.arrow(), binary)
            else:
                self._rows = self._run(results.collect_rows)
        return self._rows

    @property
    def rowcount(self) -> int:
        if self._rows is None and results.arrow_convertible(self.df.schema):
            return self.arrow().num_rows
        return len(self._all_rows())

    def _advance(self, n: int | None) -> list[tuple]:
        """The next ``n`` rows (all that remain for None); moves the position."""
        rows = self._all_rows()
        start = self._pos
        self._pos = len(rows) if n is None else min(start + n, len(rows))
        return rows[start : self._pos]

    def fetchone(self):
        row = self._advance(1)
        return row[0] if row else None

    def fetchmany(self, size: int | None = None):
        return self._advance(size or self.arraysize)

    def fetchall(self):
        return self._advance(None)

    def arrow(self):
        """Results as a pyarrow.Table (reference ``execute_to_arrow``): the
        statement's buffered result, so fetching rows too runs it once."""
        if self._table is None:
            self._table = self._run(lambda df: df.toArrow())
        return self._table

    def pandas(self):
        return self._run(lambda df: df.toPandas())

    def close(self) -> None:
        self._df = None
        self._clear_result()


import re as _re2


def _ym_safe(df: DataFrame) -> DataFrame:
    """Render YearMonthIntervalType columns as strings: pyspark cannot
    convert YM intervals to Python values (`fromInternal` unimplemented),
    so a bare ``SELECT INTERVAL '5-6' YEAR TO MONTH`` would die at fetch."""
    from pyspark.sql import types as T

    if not any(isinstance(f.dataType, T.YearMonthIntervalType) for f in df.schema.fields):
        return df
    return df.select(
        *[
            df[i].cast("string").alias(f.name)
            if isinstance(f.dataType, T.YearMonthIntervalType)
            else df[i]
            for i, f in enumerate(df.schema.fields)
        ]
    )


def _sql(spark: SparkSession, sql: str, relations: dict[str, DataFrame]) -> DataFrame:
    """``spark.sql`` with the statement's relations bound to their marker
    names.  PySpark registers each under a fresh ``_pyspark_<uuid>`` name and
    drops it once the statement is analyzed, so concurrent statements never
    share a name.  Its formatter reads ``{name}``: other braces are doubled."""
    if relations:
        sql = sql.replace("{", "{{").replace("}", "}}")
        names = _re2.compile(r"\b(" + "|".join(map(_re2.escape, relations)) + r")\b")
        sql = sqltext.map_outside_literals(sql, lambda seg: names.sub(r"{\1}", seg))
    return spark.sql(sql, **relations)


_EQ = _re2.compile("=")
_GJO_ARG = _re2.compile(r"get_json_object\(\s*([A-Za-z_][\w.]*)\s*,")
_LIKE_ANY_NATIVE = _re2.compile(
    r"([\w.]+)\s+(LIKE|ILIKE|RLIKE)\s+(ANY|ALL)\s*\(", _re2.IGNORECASE
)


def _type_fallback(sql: str, msg: str) -> str | None:
    """Alternate rewrite for type-dependent dialect forms.

    The text-level rewriter cannot see column types, so two reference
    constructs are first emitted in their string-typed form and converted
    here when Spark's analyzer reports the column is struct/array typed:

    - ``x -> 'k'`` / ``x ->> 'k'`` → ``get_json_object(x, ...)`` works on
      JSON strings; struct columns (e.g. $astronauts.birth_place) need
      ``get_json_object(to_json(x), ...)``.
    - ``x LIKE ANY ('%p%', ...)`` is native Spark for string ``x``; for
      array columns the reference semantics (any element matches any
      pattern — ``utils/sql.py::regex_match_any``) become
      ``exists(x, __v -> __v LIKE p1 OR ...)``; ALL → forall with AND.
    """
    # SELECT DISTINCT ... ORDER BY <col not in the projection>: Spark
    # rejects ordering a DISTINCT result by a dropped column; the
    # reference permits it (the row SET is identical — ordering by a
    # non-projected column after dedup is arbitrary anyway), so drop the
    # unresolvable sort key and keep the rest of the ORDER BY.
    um = _re2.search(r"UNRESOLVED_COLUMN.*?name `([\w.]+)` cannot be resolved", msg, _re2.DOTALL)
    if um and _re2.search(r"\bSELECT\s+DISTINCT\b", sql, _re2.IGNORECASE):
        col = _re2.escape(um.group(1))
        ob = _re2.search(r"\bORDER\s+BY\b(.*?)(\bLIMIT\b|\bOFFSET\b|$)", sql, _re2.IGNORECASE | _re2.DOTALL)
        if ob and _re2.search(rf"\b{col}\b", ob.group(1)):
            keys = [
                k.strip()
                for k in ob.group(1).split(",")
                if not _re2.search(rf"\b{col}\b", k)
            ]
            repl = (" ORDER BY " + ", ".join(keys) + " ") if keys else " "
            new = sql[: ob.start()] + repl + sql[ob.start(2) :]
            if new != sql:
                return new
    # subscript on a STRING column: reference GET/[] semantics are char-at
    # (integer key, 0-based) or JSON-key extraction (string key)
    em = _re2.search(r'Can\'t extract a value from "([\w.]+)"', msg)
    if em and '"STRING"' in msg:
        base = _re2.escape(em.group(1))
        new = _re2.sub(
            rf"\(?\b({base})\)?\s*\[\s*(\d+)\s*\]",
            lambda m: f"substring({m.group(1)}, {int(m.group(2)) + 1}, 1)",
            sql,
        )
        new = _re2.sub(
            rf"\(?\b({base})\)?\s*\[\s*'([^']*)'\s*\]",
            lambda m: f"get_json_object({m.group(1)}, '$.{m.group(2)}')",
            new,
        )
        if new != sql:
            return new
    if "INVALID_EXTRACT_BASE_FIELD_TYPE" in msg or "UNEXPECTED_INPUT_TYPE" in msg:
        # string-literal subscript: ('{"a":1}')['a'] → JSON key extraction
        new = _re2.sub(
            r"\(\s*('(?:[^']|'')*')\s*\)\s*\[\s*'([^']*)'\s*\]",
            lambda m: f"get_json_object({m.group(1)}, '$.{m.group(2)}')",
            sql,
        )
        if new != sql:
            return new
        # JSON-text idiom on a struct: (CAST(x AS STRING))['k']
        cm2 = _re2.search(
            r"\(\s*CAST\s*\(\s*([\w.]+)\s+AS\s+STRING\s*\)\s*\)\s*\[\s*'([^']*)'\s*\]",
            sql,
            _re2.IGNORECASE,
        )
        if cm2:
            new = sql.replace(
                cm2.group(0),
                f"get_json_object(to_json({cm2.group(1)}), '$.{cm2.group(2)}')",
            )
            if new != sql:
                return new
    # date arithmetic compared to a year-month interval: date - date is a
    # day-time interval in Spark.  Calendar-exact form first:
    # (d1 - d2) CMP INTERVAL n YEAR  ⇔  d1 CMP add_months(d2, 12n)
    # (addition is monotone, so the comparison transposes exactly —
    # no fixed-365.25-day approximation off-by-one at leap boundaries).
    if "INTERVAL DAY" in msg and "INTERVAL YEAR" in msg:
        _transpose = lambda m: (  # noqa: E731
            f"{m.group(1)} {m.group(3)} "
            f"add_months({m.group(2)}, {12 * int(m.group(4))})"
        )
        new = _re2.sub(
            r"\(\s*([\w.]+)\s*-\s*([\w.]+)\s*\)\s*(>=|<=|<>|!=|>|<|=)"
            r"\s*INTERVAL\s+'(\d+)'\s+YEAR\b",
            _transpose,
            sql,
            flags=_re2.IGNORECASE,
        )
        if new == sql:
            new = _re2.sub(
                r"\b([\w.]+)\s*-\s*([\w.]+)\s*(>=|<=|<>|!=|>|<|=)"
                r"\s*INTERVAL\s+'(\d+)'\s+YEAR\b",
                _transpose,
                sql,
                flags=_re2.IGNORECASE,
            )
        if new != sql:
            return new
        # last resort (operands not a simple column difference):
        # fixed-day approximation
        new = _re2.sub(
            r"\bINTERVAL\s+'(\d+)'\s+YEAR\b",
            lambda m: f"make_dt_interval({round(int(m.group(1)) * 365.25)})",
            sql,
            flags=_re2.IGNORECASE,
        )
        if new != sql:
            return new
    if "DATATYPE_MISMATCH" not in msg and "DATATYPE_MISSING_SIZE" not in msg:
        return None
    # to_json over an already-textual column (JSON string or JSON bytes):
    # unwrap — json_object_keys/get_json_object take the text directly
    if "INVALID_JSON_SCHEMA" in msg:
        jm = _re2.search(r'to_json\(([\w.]+)\)', msg)
        if jm:
            base = _re2.escape(jm.group(1))
            new = _re2.sub(
                rf"to_json\(\s*({base})\s*\)", r"CAST(\1 AS STRING)", sql
            )
            if new != sql:
                return new
    if "get_json_object" in msg:
        if '"BINARY"' in msg:
            # JSON stored as bytes: the text itself is the document
            new = _GJO_ARG.sub(
                lambda m: f"get_json_object(CAST({m.group(1)} AS STRING),", sql
            )
        else:
            new = _GJO_ARG.sub(lambda m: f"get_json_object(to_json({m.group(1)}),", sql)
        if new != sql:
            return new
        # non-identifier first argument (subscript/call): wrap it via the
        # quoted form from the error message
        qm = _re2.search(r'"get_json_object\((.+?), (\$[^)]*)\)"', msg)
        if qm:
            frag = qm.group(1)
            wrap = "CAST({0} AS STRING)" if '"BINARY"' in msg else "to_json({0})"
            new = sql.replace(
                f"get_json_object({frag},", f"get_json_object({wrap.format(frag)},", 1
            )
            if new != sql:
                return new
    # LENGTH(array_col) → CARDINALITY: reference LENGTH is polymorphic
    lm = _re2.search(r'"length\(([\w.]+)\)"', msg)
    if lm:
        new = _re2.sub(
            rf"\bLENGTH\(\s*{_re2.escape(lm.group(1))}\s*\)",
            f"CARDINALITY({lm.group(1)})",
            sql,
            flags=_re2.IGNORECASE,
        )
        if new != sql:
            return new
    if '"length(' in msg and len(_re2.findall(r"\bLENGTH\(", sql, _re2.IGNORECASE)) == 1:
        # sole LENGTH call failed on an array-typed aggregate expression
        new = _re2.sub(r"\bLENGTH\(", "CARDINALITY(", sql, count=1, flags=_re2.IGNORECASE)
        return new
    # CAST(scalar AS ARRAY<T>) → array(CAST(scalar AS T)): reference casts
    # scalars to single-element lists
    if "ARRAY<" in msg.upper() or "ARRAY<" in sql.upper():
        new = _re2.sub(
            r"\bCAST\s*\(\s*([\w.]+)\s+AS\s+ARRAY\s*<\s*(\w+)\s*>\s*\)",
            r"array(CAST(\1 AS \2))",
            sql,
            flags=_re2.IGNORECASE,
        )
        if new != sql:
            return new
    # date/struct → BINARY and BINARY → numeric casts hop through STRING,
    # matching the reference's BLOB semantics (bytes of the string repr)
    if "AS BINARY" in msg.upper() or "AS BINARY" in sql.upper():
        new = _re2.sub(
            r"(AS\s+BINARY\s*\))(\s*AS\s+(?:BIGINT|INT|INTEGER|DOUBLE|FLOAT)\b)",
            lambda m: "AS STRING)" + m.group(2),
            sql,
            flags=_re2.IGNORECASE,
        )
        if new == sql:
            cm = _re2.search(r'"CAST\(([\w.]+) AS BINARY\)"', msg)
            if cm:
                new = _re2.sub(
                    rf"\bCAST\(\s*{_re2.escape(cm.group(1))}\s+AS\s+BINARY\s*\)",
                    f"CAST(CAST({cm.group(1)} AS STRING) AS BINARY)",
                    sql,
                    flags=_re2.IGNORECASE,
                )
        if new != sql:
            return new
    # single-argument CONCAT over an array → join elements (reference
    # CONCAT(list) concatenates the elements)
    cm = _re2.search(r"\bCONCAT\(\s*([\w.]+)\s*\)", sql, _re2.IGNORECASE)
    if cm:
        new = _re2.sub(
            r"\bCONCAT\(\s*([\w.]+)\s*\)",
            r"array_join(\1, '')",
            sql,
            flags=_re2.IGNORECASE,
        )
        if new != sql:
            return new
    # LIKE-quantifier detection keys on the SQL side: the analyzer message
    # names internal forms (likeany/lower/...) that vary by operator
    from opteryx_spark.dialect import LIT_LIST

    out = sql
    pos = 0
    changed = False
    while (m := _LIKE_ANY_NATIVE.search(out, pos)) and (
        end := sqltext.balanced_end(out, m.end() - 1)
    ) >= 0:
        body = out[m.end() : end - 1]
        if not LIT_LIST.match(body):
            pos = m.end()
            continue
        lhs, op, quant = m.group(1), m.group(2).upper(), m.group(3).upper()
        pats = _re2.findall(r"'(?:[^']|'')*'", body)
        joiner = " OR " if quant == "ANY" else " AND "
        inner = joiner.join(f"__v {op} {p}" for p in pats)
        fn = "exists" if quant == "ANY" else "forall"
        repl = f"{fn}({lhs}, __v -> {inner})"
        out = out[: m.start()] + repl + out[end:]
        pos = m.start() + len(repl)
        changed = True
    if changed:
        return out
    return None


def _parse_plan_tree(text: str) -> list[tuple[int, str, str]]:
    """Spark plan string → (depth, operator, config) rows, the reference's
    EXPLAIN shape.  Skips section headers and metric continuation lines."""
    import re as _re

    rows: list[tuple[int, str, str]] = []
    for line in text.split("\n"):
        if not line.strip() or line.startswith("=="):
            continue
        stripped = line.lstrip()
        if stripped.startswith(("+-", ":-", ":", "+")):
            indent = len(line) - len(stripped)
            depth = indent // 3 + 1
            body = stripped.lstrip("+-:").lstrip()
        elif line == line.lstrip() and rows == []:
            depth, body = 0, stripped
        else:
            continue  # continuation/metrics line
        body = _re.sub(r"^\*\(\d+\)\s*", "", body)  # codegen stage marker
        m = _re.match(r"([A-Za-z][\w]*)\s*(.*)", body)
        if not m:
            continue
        if m.group(1) == "ColumnarToRow":
            continue  # execution-format adapter, not a logical operator
        rows.append((depth, m.group(1), m.group(2)[:500]))
    return rows or [(0, "Plan", text[:200])]


def _is_view(spark: SparkSession, name: str) -> bool:
    try:
        return spark.catalog.tableExists(name)
    except Exception:
        return False


def _plan_key(df: DataFrame) -> tuple | None:
    """(semantic hash, optimized plan, snapshot) of ``df``, or None when
    the plan and its files do not fix its result: the plan is
    nondeterministic, a leaf is neither a file scan nor rows held in the
    plan, or an input file is not on the local file system.  The plan
    carries views, bound parameters, semantic confs and folded
    current-time literals.  The snapshot carries what the canonical plan
    drops, the output column names, and file rewrites."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        for p in (plan, *_scala_seq(plan.subqueriesAll())):
            if not p.deterministic():
                return None
            for leaf in _scala_seq(p.collectLeaves()):
                kind = leaf.getClass().getSimpleName()
                if kind == "LogicalRelation":
                    if leaf.relation().getClass().getSimpleName() != "HadoopFsRelation":
                        return None
                elif kind not in _PLAN_LEAVES:
                    return None
        files = []
        for uri in df.inputFiles():
            parsed = urlparse(uri)
            if parsed.scheme != "file":
                return None
            st = os.stat(unquote(parsed.path))
            files.append((uri, st.st_size, st.st_mtime_ns))
        return plan.semanticHash(), plan, (df.schema, tuple(sorted(files)))
    except Exception:  # no key, no reuse: the run itself reports failures
        return None


def _scala_seq(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def _load_json_file(filename: str) -> dict:
    import json

    for base in (os.getcwd(), os.path.expanduser("~")):
        path = os.path.join(base, filename)
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
    return {}


def _parse_literal(text: str):
    text = text.strip()
    if text.startswith("'") and text.endswith("'"):
        return text[1:-1]
    try:
        return int(text)
    except ValueError:
        try:
            return float(text)
        except ValueError:
            return text


_default_connection: Connection | None = None


def connect(**kwargs) -> Connection:
    return Connection(**kwargs)


def _default() -> Connection:
    global _default_connection
    if _default_connection is None:
        _default_connection = Connection()
    return _default_connection


def query(sql: str, params: dict | list | None = None) -> Cursor:
    """One-shot query on the default connection (reference
    ``opteryx.query``, ``opteryx/__init__.py:150-185``)."""
    cur = _default().cursor()
    return cur.execute(sql, params)


def query_to_arrow(sql: str, params: dict | list | None = None):
    """Fastest path: SQL → pyarrow.Table (reference ``query_to_arrow``)."""
    return query(sql, params).arrow()
