"""The benchmark's workloads: what each operation sends and how it is checked.

``sql_mixed``: one client, closed loop, statements through
``cursor.execute(...).fetchall()`` or ``cursor.arrow()``.  A cycle holds
the 15 interactive templates twice each with fresh parameters, one
verbatim repeat of an earlier statement of each of six fixed templates,
and the three export templates; the run measures whole cycles.

``curate_batch``: three driver threads share one session, closed loop,
each running a fixed ``CURATE_STEPS`` pipelines from its own starting point
in the three curation pipelines and writing each result to parquet.  A run
is one batch of fixed size however fast the pipelines get, measured after
an unmeasured single-threaded run of each pipeline has warmed the session.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass

import numpy as np

from perfbench import data

# --------------------------------------------------------------------------
# sql_mixed


@dataclass(frozen=True)
class Statement:
    template: str
    sql: str  # text sent to the cursor
    params: dict | None = None
    oracle: str | None = None  # DuckDB twin; None: ``sql`` runs as is
    expected: tuple | None = None  # stored rows where DuckDB has no twin
    ordered: bool = True
    export: bool = False
    fetch: str = "fetchall"


def _ts(d: dt.date) -> str:
    return f"TIMESTAMP '{d.isoformat()} 00:00:00'"


# $planets has no DuckDB twin: (name, diameter, numberOfMoons) from the
# NASA planetary fact sheet the engine serves as its virtual table.
PLANETS = (
    ("Mercury", 4879, 0), ("Venus", 12104, 0), ("Earth", 12756, 1),
    ("Mars", 6792, 2), ("Jupiter", 142984, 79), ("Saturn", 120536, 82),
    ("Uranus", 51118, 27), ("Neptune", 49528, 14), ("Pluto", 2370, 5),
)

LAST_SHIP = dt.date(2001, 11, 4)


def _q1(r):
    cut = LAST_SHIP - dt.timedelta(days=int(r.choice([60, 75, 90, 105, 120])))
    return Statement("q1_pricing", f"""
        SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty,
               SUM(l_extendedprice) AS sum_base_price,
               SUM(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
               AVG(l_discount) AS avg_disc, COUNT(*) AS count_order
        FROM lineitem WHERE l_shipdate <= {_ts(cut)}
        GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""")


def _q3(r):
    seg = r.choice(data.SEGMENTS)
    day = dt.date(1996, 1, 1) + dt.timedelta(days=int(r.choice([0, 90, 180, 270, 365])))
    return Statement("q3_shipping", f"""
        SELECT l_orderkey, SUM(l_extendedprice * (1 - l_discount)) AS revenue, o_orderdate
        FROM customer JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = '{seg}' AND o_orderdate < {_ts(day)}
          AND l_shipdate > {_ts(day)}
        GROUP BY l_orderkey, o_orderdate
        ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10""")


def _q5(r):
    region = r.choice(data.REGIONS)
    year = int(r.integers(1995, 2001))
    return Statement("q5_local_supplier", f"""
        SELECT n_name, SUM(l_extendedprice * (1 - l_discount)) AS revenue
        FROM customer JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE c_nationkey = s_nationkey AND r_name = '{region}'
          AND o_orderdate >= {_ts(dt.date(year, 1, 1))}
          AND o_orderdate < {_ts(dt.date(year + 1, 1, 1))}
        GROUP BY n_name ORDER BY revenue DESC, n_name""")


def _q6(r):
    year = int(r.integers(1995, 2001))
    disc = int(r.integers(2, 9))
    qty = int(r.choice([24, 25]))
    return Statement("q6_forecast", f"""
        SELECT SUM(l_extendedprice * l_discount) AS revenue FROM lineitem
        WHERE l_shipdate >= {_ts(dt.date(year, 1, 1))}
          AND l_shipdate < {_ts(dt.date(year + 1, 1, 1))}
          AND l_discount BETWEEN CAST({disc - 1} AS DOUBLE) / 100
                             AND CAST({disc + 1} AS DOUBLE) / 100
          AND l_quantity < {qty}""")


def _topk_orders(r):
    prio, status = r.choice(data.PRIORITIES), r.choice(data.ORDER_STATUS)
    return Statement("topk_orders", f"""
        SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        WHERE o_orderpriority = '{prio}' AND o_orderstatus = '{status}'
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""")


def _point_order(r):
    key = int(r.integers(0, 20)) * 7_001
    return Statement("point_order", f"""
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
               o_orderpriority
        FROM orders WHERE o_orderkey = {key}""")


def _point_lineitems(r):
    key = int(r.integers(0, 20)) * 7_001 + 3
    return Statement("point_lineitems", f"""
        SELECT l_linenumber, l_partkey, l_quantity, l_extendedprice FROM lineitem
        WHERE l_orderkey = {key}
        ORDER BY l_linenumber, l_partkey, l_quantity, l_extendedprice""")


def _for_dates(r):
    start = dt.date(2024, 1, 1) + dt.timedelta(days=int(r.integers(0, 24)))
    end = start + dt.timedelta(days=int(r.integers(0, 5)))
    cols = "event_type, COUNT(*) AS n, SUM(value) AS total"
    tail = "GROUP BY event_type ORDER BY event_type"
    return Statement(
        "for_dates",
        f"SELECT {cols} FROM events FOR DATES BETWEEN '{start}' AND '{end}' {tail}",
        oracle=f"SELECT {cols} FROM events WHERE ts >= {_ts(start)} "
        f"AND ts < {_ts(end + dt.timedelta(days=1))} {tail}",
    )


def _json_props(r):
    ev = r.choice(data.EVENT_TYPES)
    return Statement("json_props", f"""
        SELECT props->>'k' AS k, COUNT(*) AS n FROM events
        WHERE event_type = '{ev}' GROUP BY 1 ORDER BY n DESC, k LIMIT 5""")


def _planets(r):
    bound = int(r.choice([2000, 5000, 10000, 50000, 100000]))
    rows = tuple(sorted((name, moons) for name, diam, moons in PLANETS if diam > bound))
    return Statement(
        "planets",
        f"SELECT name, numberOfMoons FROM $planets WHERE diameter > {bound} ORDER BY name",
        expected=rows,
    )


def _distinct_on(r):
    lo = int(r.integers(0, 20)) * 500
    return Statement("distinct_on", f"""
        SELECT DISTINCT ON (o_custkey) o_custkey, o_orderkey, o_totalprice
        FROM orders WHERE o_custkey BETWEEN {lo} AND {lo + 19}
        ORDER BY o_custkey, o_totalprice DESC, o_orderkey""")


def _generate_series(r):
    year = int(r.integers(1995, 2001))
    body = f"""LEFT JOIN orders ON month(o_orderdate) = m
               AND o_orderdate >= {_ts(dt.date(year, 1, 1))}
               AND o_orderdate < {_ts(dt.date(year + 1, 1, 1))}
        GROUP BY m ORDER BY m"""
    cols = "SELECT m, COUNT(o_orderkey) AS n"
    return Statement(
        "generate_series",
        f"{cols} FROM GENERATE_SERIES(1, 12) AS m {body}",
        oracle=f"{cols} FROM generate_series(1, 12) AS g(m) {body}",
    )


def _named_params(r):
    prio = r.choice(data.PRIORITIES)
    max_cust = int(r.choice([1000, 2000, 5000]))
    tail = "SELECT COUNT(*) AS n, SUM(o_totalprice) AS total FROM orders WHERE"
    return Statement(
        "named_params",
        f"{tail} o_orderpriority = :prio AND o_custkey < :max_cust",
        params={"prio": prio, "max_cust": max_cust},
        oracle=f"{tail} o_orderpriority = '{prio}' AND o_custkey < {max_cust}",
    )


def _part_brand(r):
    ptype, size = r.choice(data.PART_TYPES), int(r.choice([10, 20, 30]))
    return Statement("part_brand", f"""
        SELECT p_brand, COUNT(*) AS n, SUM(l_quantity) AS qty
        FROM part JOIN lineitem ON p_partkey = l_partkey
        WHERE p_type = '{ptype}' AND p_size <= {size}
        GROUP BY p_brand ORDER BY qty DESC, p_brand LIMIT 10""")


def _segment_balance(r):
    region, floor = int(r.integers(0, 5)), int(r.choice([100, 110, 120]))
    return Statement("segment_balance", f"""
        SELECT c_mktsegment, n_name, COUNT(*) AS n, AVG(c_acctbal) AS bal
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        WHERE n_regionkey = {region}
        GROUP BY c_mktsegment, n_name HAVING COUNT(*) > {floor}
        ORDER BY c_mktsegment, n_name""")


INTERACTIVE = (
    _q1, _q3, _q5, _q6, _topk_orders, _point_order, _point_lineitems, _for_dates,
    _json_props, _planets, _distinct_on, _generate_series, _named_params,
    _part_brand, _segment_balance,
)


def _export_orders(r):
    prio = r.choice(data.PRIORITIES)
    return Statement("export_orders", f"""
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
        FROM orders WHERE o_orderpriority <> '{prio}'""", ordered=False, export=True)


def _export_events(r):
    first = int(r.integers(0, 100))
    return Statement("export_events", f"""
        SELECT event_id, ts, user_id, event_type, value, props FROM events
        WHERE event_id >= {first}""", ordered=False, export=True)


def _export_lineitem(r):
    line = int(r.integers(1, 8))
    return Statement("export_lineitem",
                     f"SELECT * FROM lineitem WHERE l_linenumber <> {line}",
                     ordered=False, export=True, fetch="arrow")


EXPORTS = (_export_lineitem, _export_orders, _export_events)
GROUPS = len(EXPORTS)  # one export closes each group of interactive statements
ROUNDS = 2  # fresh statements per interactive template and cycle
# Templates of which one earlier statement of the cycle is sent again
# verbatim, as a dashboard re-sends its lookups and summaries.  The list is
# fixed, so every cycle holds the same number of statements of each
# template and the seed moves only parameters, order and which statement
# is repeated.
REPEATED = ("point_order", "topk_orders", "named_params", "json_props", "q1_pricing",
            "for_dates")
REPEATS = 2  # repeats closing each group, while repeated templates are due


def warm_up(rng: np.random.Generator) -> list[Statement]:
    """Statements sent before the measured cycles: every interactive
    template once with fresh parameters, and the Arrow export.  The
    statements themselves warm the fetchall path; with the Arrow path cold,
    the measured Arrow export took about 1.5 times as long."""
    return [f(rng) for f in INTERACTIVE] + [_export_lineitem(rng)]


def sql_cycle(rng: np.random.Generator) -> list[Statement]:
    """One cycle: every interactive template ``ROUNDS`` times with fresh
    parameters, one verbatim repeat per ``REPEATED`` template and every
    export once.  Each group of statements ends with up to ``REPEATS``
    repeats of templates already sent in the cycle (the last group with all
    still due) and an export."""
    fresh = [INTERACTIVE[i](rng) for _ in range(ROUNDS)
             for i in rng.permutation(len(INTERACTIVE))]
    exports = [EXPORTS[i](rng) for i in rng.permutation(len(EXPORTS))]
    per_group = len(fresh) // GROUPS
    due = list(REPEATED)
    out: list[Statement] = []
    for g in range(GROUPS):
        out.extend(fresh[g * per_group:(g + 1) * per_group])
        for _ in range(REPEATS if g < GROUPS - 1 else len(due)):
            sent = [s for s in out if s.template in due]
            if not sent:
                break
            st = sent[int(rng.integers(0, len(sent)))]
            due.remove(st.template)
            out.append(st)
        out.append(exports[g])
    return out


# --------------------------------------------------------------------------
# curate_batch

CURATE_THREADS = 3
CURATE_STEPS = 2  # pipelines per thread and run
PIPELINES = ("curate_v2", "fuzzy_dedup", "curate_v3")

# Suite entries whose DuckDB oracle checks each pipeline, and the query
# that reduces the pipeline's parquet output to the oracle's columns.
ORACLES = {
    "curate_v2": (
        "curate_pipeline_v2",
        "SELECT coalesce(drop_reason, 'kept') AS outcome, "
        "CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(n_words) AS BIGINT) AS total_words "
        "FROM read_parquet('{out}/*.parquet') GROUP BY 1",
    ),
    "fuzzy_dedup": (
        "dedup_fuzzy_keepers",
        "SELECT doc_id, comp, kept FROM read_parquet('{out}/*.parquet')",
    ),
    "curate_v3": (
        "curate_pipeline_v3",
        "SELECT doc_id, n_tokens_raw, n_tokens_final, final_text, outcome "
        "FROM read_parquet('{out}/*.parquet')",
    ),
}


def oracle_sql(entry: str) -> str:
    """The DuckDB oracle the suite registers for ``entry``."""
    from opteryx_spark.suite import REGISTRY, pipeline2, pipeline3, pipeline4  # noqa: F401

    return REGISTRY[entry].oracle


@dataclass
class Pipelines:
    """Builds each pipeline's lazy DataFrame and writes it; ``span`` names
    the layer each call belongs to."""

    spark: object
    docs: object  # the corpus DataFrame
    span: object  # Tracer.span

    def run(self, name: str, out: str) -> None:
        getattr(self, name)(out)

    def _write(self, df, path: str) -> None:
        with self.span("operators.write"):
            df.write.mode("overwrite").parquet(path)

    def curate_v2(self, out: str) -> None:
        from pyspark.sql import functions as F

        from opteryx_spark.operators import curate, text

        with self.span("operators.build"):
            bench = self.docs.filter(F.col("source") == "src0")
            corpus = self.docs.filter(F.col("source") != "src0")
            df = curate.curate_corpus_v2(
                corpus, bench,
                gopher_thresholds={"max_dup_2gram_frac": 0.2, "max_top_2gram_frac": 0.12},
                stopword_langs=sorted(text.STOPWORDS),
            )
        self._write(df, out)

    def fuzzy_dedup(self, out: str) -> None:
        from opteryx_spark.operators import dedup

        with self.span("operators.build"):
            df = dedup.fuzzy_dedup(
                self.docs, "doc_id", "text", min_est_jaccard=0.5, k=2,
                unique_texts="auto", portable_hash=True,
            )
        self._write(df, out)

    def curate_v3(self, out: str) -> None:
        """The suite's v3 input through the offline rewrite, its parquet
        artifact, then the online gate.  As in ``curate_pipeline_v3``, each
        doc gets ``pipeline3._with_lines`` (shared chrome lines, every 4
        words on a line) and every 10th doc also a copy under id +1,000,000
        that keeps the chrome but its content on one line."""
        from pyspark.sql import functions as F

        from opteryx_spark.operators import curate
        from opteryx_spark.suite.pipeline3 import _with_lines

        with self.span("operators.build"):
            d = F.col("doc_id")
            docs = self.docs.select("doc_id", "text")
            # the chrome of an empty text ends in a newline; the text follows
            copies = _with_lines(
                docs.filter(d % 10 == 0).withColumn("body", F.col("text"))
                .withColumn("text", F.lit(""))
            ).select((d + 1_000_000).alias("doc_id"), F.concat("text", "body").alias("text"))
            rewritten = curate.curate_rewrite_corpus(_with_lines(docs).unionByName(copies))
        self._write(rewritten, out + "_rewritten")
        with self.span("operators.build"):
            gated = curate.curate_gate_outcomes(self.spark.read.parquet(out + "_rewritten"))
        self._write(gated, out)
