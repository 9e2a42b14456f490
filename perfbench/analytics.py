"""`analytics` workload: the 14 `bench.HEADLINE` queries in a fresh JVM.

A cold pass runs every query once and collects its rows; those rows are
checked against the DuckDB oracle after the clock stops. Warm passes then
run the same queries into the `noop` sink until the run's seconds are used
(at least one pass). The query layer is `__spark_entry__`'s builders, which
run `operators.*` and `functions.*`; neither `replay` nor `icelite` runs here.
Set-up is timed as SETUPS same-JVM session restarts, each followed by
opening the input tables.
"""

from __future__ import annotations

import os
import re
import time
from contextlib import nullcontext

from perfbench import data
from perfbench.common import median, timed
from perfbench.trace import Codegen, read_event_log

SF = 0.005  # table sizes: 1/20 of the repo's sf0.1 bench scale
SETUPS = 3


def prep(spark, tables_dir: str, tables: list[str]) -> None:
    """Per-session set-up: open every input table (reads parquet footers)."""
    for t in tables:
        spark.read.parquet(os.path.join(tables_dir, f"{t}.parquet")).schema


def run(ctx) -> dict:
    tables_dir = data.analytics_tables(ctx.cache, ctx.seed, SF)
    ctx.start_session()
    import bench
    import __spark_entry__ as entry
    from datavec_spark.cache import release_tracked

    tr = ctx.tracer
    prep(ctx.spark, tables_dir, entry.TABLES)
    qs = entry.queries()
    codegen = Codegen(ctx.spark) if tr.enabled else None
    cg0 = codegen.read() if codegen else (0, 0.0)

    def one(name: str, phase: str, sink, traced: bool) -> tuple[float, float, object]:
        spark = ctx.spark
        if traced:
            spark.sparkContext.setJobGroup(f"{phase}.{name}", name)
        with tr.span(f"query.{phase}", query=name) if traced else nullcontext():
            build, df = timed(qs[name], spark, tables_dir)
            exec_, out = timed(sink, df)
        release_tracked()
        return build, exec_, out

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    def warm_passes(traced: bool, n: int | None = None) -> tuple[list[float], dict]:
        """n passes, or as many as fit the run's seconds (at least one)."""
        passes, per_query = [], {}
        t0 = time.perf_counter()
        while len(passes) < (n or 1) or (n is None and time.perf_counter() - t0 < ctx.seconds):
            total = 0.0
            for name in bench.HEADLINE:
                b, e, _ = one(name, "warm", noop, traced)
                per_query[name] = (b, e)
                total += b + e
            passes.append(total)
        return passes, per_query

    cold, rows = {}, {}
    for name in bench.HEADLINE:
        b, e, out = one(name, "cold",
                        lambda df: (df.columns, [tuple(r) for r in df.collect()]), tr.enabled)
        cold[name], rows[name] = b + e, out
    passes, per_query = warm_passes(tr.enabled)
    if tr.enabled:
        ctx.spark.sparkContext.setJobGroup("other", "other")
    cg1 = codegen.read() if codegen else (0, 0.0)

    failures = check(entry, tables_dir, rows)
    setups = [timed(lambda: prep(ctx.restart(), tables_dir, entry.TABLES))[0]
              for _ in range(SETUPS)]

    named = {"analytics_s": median(passes), "analytics_cold_s": sum(cold.values())}
    result = {
        "attempted": len(bench.HEADLINE), "failed": len(failures),
        "e2e": {"setup_s": median(setups), "cold_s": named["analytics_cold_s"],
                "steady_s": named["analytics_s"]},
        "named": named,
        "detail": {"cold_query_s": cold, "warm_pass_s": passes, "setups_s": setups,
                   "check_failures": failures, "sf": SF},
    }
    if tr.enabled:
        result["layers"] = layers(ctx, bench.HEADLINE, per_query, cg0, cg1)
        # tracing's own cost: as many warm passes again, in a session
        # without the event log, job groups or spans
        ctx.restart(traced=False)
        untraced, _ = warm_passes(False, len(passes))
        result["layers"]["trace.overhead_pct"] = 100.0 * (median(passes) / median(untraced) - 1)
    return result


def check(entry, tables_dir: str, rows: dict) -> list[str]:
    """Compare each query's collected rows with its DuckDB oracle."""
    import duckdb
    from tools.check_oracle import norm_rows

    oracles = entry.oracle_sql()
    con = duckdb.connect()
    for t in entry.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(tables_dir, t + '.parquet')}')")
    failures = []
    for name, (cols, got) in rows.items():
        res = con.execute(oracles[name])
        want_cols = [d[0] for d in res.description]
        want = res.fetchall()
        places = round_places(oracles[name])
        if (sorted(cols) != sorted(want_cols)
                or not rows_match(norm_rows(cols, got), norm_rows(want_cols, want), places)):
            failures.append(name)
    con.close()
    return failures


def round_places(sql: str) -> list[int]:
    """The literal k of every round(x, k) in a SQL text."""
    places = set()
    for m in re.finditer(r"\bround\s*\(", sql, re.IGNORECASE):
        depth, comma, i = 1, None, m.end()
        while i < len(sql) and depth:
            c = sql[i]
            depth += (c == "(") - (c == ")")
            if c == "," and depth == 1:
                comma = i
            i += 1
        if comma is not None and sql[comma + 1:i - 1].strip().isdigit():
            places.add(int(sql[comma + 1:i - 1]))
    return sorted(places)


def _on_place(x: float, k: int) -> bool:
    return abs(round(x, k) - x) <= 1e-9 * max(1.0, abs(x))


def cells_match(a, b, places=()) -> bool:
    """Equal; or floats that both sit on a rounding place k the query uses
    (`places`, from its round(x, k) calls) and are one unit apart there: a
    sum rounded to k places can land either side of a tie at 10^-k / 2 when
    the two engines add in a different order."""
    if a == b:
        return True
    if not (isinstance(a, float) and isinstance(b, float)):
        return False
    return any(_on_place(a, k) and _on_place(b, k) and abs(a - b) <= 10.0 ** -k * 1.000001
               for k in places)


def rows_match(a: list[tuple], b: list[tuple], places=()) -> bool:
    """Normalized, sorted row lists (tools/check_oracle.norm_rows) agree
    cell by cell, up to cells_match."""
    return len(a) == len(b) and all(
        len(x) == len(y) and all(cells_match(p, q, places) for p, q in zip(x, y))
        for x, y in zip(a, b))


def layers(ctx, names: list[str], per_query: dict, cg0, cg1) -> dict:
    ev = read_event_log(ctx.event_log_dir)
    out = {}
    for name in names:
        g = ev.get(f"warm.{name}", {})
        b, e = per_query[name]
        out.update({
            f"query.{name}.build_s": b, f"query.{name}.exec_s": e,
            f"query.{name}.jobs": g.get("jobs", 0), f"query.{name}.stages": g.get("stages", 0),
            f"query.{name}.cpu_s": g.get("cpu_s", 0.0),
            f"query.{name}.shuffle_mb": g.get("shuffle_write_mb", 0.0),
        })
    groups = [g for k, g in ev.items() if k and k.startswith(("warm.", "cold."))]
    out["query.compile_count"] = cg1[0] - cg0[0]
    out["query.compile_ms"] = cg1[1] - cg0[1]
    out["query.gc_s"] = sum(g.get("gc_s", 0.0) for g in groups)
    out["query.spill_mb"] = sum(g.get("spill_mb", 0.0) for g in groups)
    return out
