"""The benchmark's workloads: which ops a pass runs, the inputs each op
gets, and how each op's output is checked against DuckDB.

Expected results are computed with DuckDB before the Spark session
starts, so no check runs inside a timed region.
"""

from __future__ import annotations

import csv
import hashlib
import json
from collections.abc import Callable
from dataclasses import dataclass
from pathlib import Path

import duckdb

# The reference's 10-row input.csv, the table its 20 eval descriptions run on.
PEOPLE_ROWS = [
    ("Alice", 25, "New York"),
    ("Bob", 35, "Los Angeles"),
    ("Charlie", 32, "Chicago"),
    ("Diana", 45, "Seattle"),
    ("Ethan", 29, "Boston"),
    ("Fiona", 41, "San Francisco"),
    ("George", 38, "Denver"),
    ("Hannah", 22, "Miami"),
    ("Ian", 50, "Austin"),
    ("Jasmine", 31, "Portland"),
]

# Seven of the slowest registry queries of the r10 bench: shuffle,
# Python/Arrow and construction-time jobs, and the module-level session
# caches. x_kendall_tau, also slow at r10, is left out to keep a run
# inside the time a benchmark run may take (see README.md). An odd count
# keeps the steady median inside one op's samples instead of straddling
# the gap between two ops of different cost.
HEAVY = [
    "x_spearman_matrix",
    "ns_sim_knn_per_label",
    "ns_dedup_semantic",
    "ns_corpus_build_e2e",
    "ns_text_boilerplate_ratio",
    "ns_decontaminate_bloom",
    "ns_sim_topk_pq",
]

# Five of the 11 reference-parity descriptions, one per shape (filter and
# project, group-by, rename, boolean tree, contains and between); the
# other six repeat these shapes and would not fit in a run's time.
AGENT_PARITY = (
    "p01_filter_gt_project",
    "p05_groupby_count",
    "p08_rename",
    "p14_paren_bool_tree",
    "p19_contains_between",
)

WORKLOADS = ("agent_nl", "registry_heavy")


@dataclass
class Op:
    """One closed-loop request. ``run`` is the timed call; ``check``
    judges its output outside the timed region, after every attempt when
    ``per_attempt`` is set, otherwise once on the last output."""

    name: str
    run: Callable[[], object]
    check: Callable[[object], bool]
    per_attempt: bool


def write_people_csv(path: Path) -> None:
    with path.open("w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["name", "age", "city"])
        w.writerows(PEOPLE_ROWS)


def _duckdb(data_dir: Path) -> duckdb.DuckDBPyConnection:
    from check_oracle import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir / t}.parquet/*.parquet')")
    con.execute(f"CREATE VIEW people AS SELECT * FROM read_csv('{data_dir / 'people.csv'}', header=true)")
    return con


def _agent_items():
    from agentic_workflow_for_data_transformation_spark import benchqueries
    from agentic_workflow_for_data_transformation_spark.cli import EVAL_DESCRIPTIONS

    people = [(f"eval{i:02d}", None, d, None) for i, d in enumerate(EVAL_DESCRIPTIONS, 1)]
    return people + [row for row in benchqueries._PARITY if row[0] in AGENT_PARITY]


def expectations(workload: str, data_dir: Path, cached_only: bool = False) -> dict[str, object] | None:
    """Per op name: the row count (agent_nl) or the order-insensitive
    result fingerprint of ``tools/check_oracle.py`` (registry_heavy)
    that DuckDB computes for the same query on the same files. DuckDB's
    answers are kept in ``data_dir`` keyed by the SQL text, since the
    tables there never change. With ``cached_only``, None if any answer
    is not kept yet."""
    from check_oracle import frame_fingerprint

    from agentic_workflow_for_data_transformation_spark import benchqueries

    if workload == "agent_nl":
        from agentic_workflow_for_data_transformation_spark.plans import parse_description
        from agentic_workflow_for_data_transformation_spark.plans.sqlgen import spec_to_sql

        queries = {}
        for name, _table, desc, sql in _agent_items():
            if sql is None:  # people corpus: the parsed spec rendered as SQL
                sql = spec_to_sql(parse_description(desc, columns=["name", "age", "city"]), "people")
            queries[name] = f"SELECT count(*) FROM ({sql})"

        def answer(pdf):
            return int(pdf.iloc[0, 0])
    else:
        oracles = benchqueries.oracle_sql()
        queries = {name: oracles[name] for name in HEAVY}

        def answer(pdf):
            return list(frame_fingerprint(pdf))

    cache_path = data_dir / "duckdb-answers.json"
    cache = json.loads(cache_path.read_text()) if cache_path.is_file() else {}
    con = None
    out = {}
    for name, sql in queries.items():
        key = hashlib.sha256(sql.encode()).hexdigest()
        if key not in cache:
            if cached_only:
                return None
            con = con or _duckdb(data_dir)
            cache[key] = answer(con.execute(sql).df())
        out[name] = cache[key]
    cache_path.write_text(json.dumps(cache))
    return out


def make_ops(workload: str, spark, data_dir: Path, out_dir: Path, expect: dict, tracer) -> list[Op]:
    """Bind each op to its inputs. Program functions are looked up on
    their modules at call time so a traced run sees the wrapped ones."""
    from agentic_workflow_for_data_transformation_spark import agents, benchqueries, sources

    sf_dir = str(data_dir)
    if workload == "agent_nl":
        people_csv = str(data_dir / "people.csv")

        def agent_op(name: str, table: str | None, desc: str) -> Op:
            def run():
                if table is None:
                    df = sources.read_csv(spark, people_csv)
                else:
                    df = sources.read_parquet_table(spark, sf_dir, table)
                return agents.run_transform(spark, df, desc, out_dir=out_dir)

            def check(state) -> bool:
                return state.valid and state.row_count == expect[name]

            return Op(name, run, check, per_attempt=True)

        return [agent_op(name, table, desc) for name, table, desc, _sql in _agent_items()]

    from check_oracle import frame_fingerprint

    registry = benchqueries.queries()

    def registry_op(name: str) -> Op:
        build = registry[name]

        def run():
            with tracer.span("registry.construct"):
                df = build(spark, sf_dir)
            if tracer.active:
                with tracer.span("catalyst.plan"):
                    df._jdf.queryExecution().executedPlan()
            with tracer.span("exec.action"):
                df.write.format("noop").mode("overwrite").save()
            return df

        def check(df) -> bool:
            return list(frame_fingerprint(df.toPandas())) == expect[name]

        return Op(name, run, check, per_attempt=False)

    return [registry_op(name) for name in HEAVY]
