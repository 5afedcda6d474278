"""The registry / ``operators.*`` layer: a fixed sequence of registry
queries, each written to a ``noop`` sink, over seeded sf0.1-shaped
tables (events, documents, embeddings).  The query side is most of the
engine's code and neither streaming path reaches it.

Measured once per traced live_dashboard run, after the stream stops (the
run budget has no room for a third workload): per query the builder
call, the ``noop`` write and the plan's shuffle count.  Each result is
then checked against its
``registry.oracle_sql()`` DuckDB twin, order-insensitively; a query
without a twin gets a rows-only check.
"""

from __future__ import annotations

import os
import time

import inputs
import reference

EVENTS_FAMILY = (
    "pipeline_e2e",
    "sink_keyed_upsert",
    "rate_limit_user",
    "ts_similarity",
    "agg_user_counts",
    "agg_rate_per_min",
    "replay_last_n",
)
CURATION_FAMILY = ("dedup_near", "sim_search_cosine")
SEQUENCE = EVENTS_FAMILY + CURATION_FAMILY


def query_layers(ctx, spark) -> tuple[dict, dict]:
    """Run the sequence once; returns (per-layer metrics, check result
    by query name: "ok" or what went wrong)."""
    import duckdb

    from eventstream_notify_spark.plans.explain import exchange_count
    from eventstream_notify_spark.registry import oracle_sql, queries

    tr = ctx.tracer
    sf_dir = ctx.dir("sf")
    inputs.sf_tables(ctx.rng, sf_dir)
    qs = queries()
    lay: dict[str, float] = {}
    check: dict[str, str] = {}
    plans = {}
    for fam, names in (("events", EVENTS_FAMILY), ("curation", CURATION_FAMILY)):
        f0 = time.perf_counter()
        for name in names:
            try:
                with tr.span(f"query.{name}.build"):
                    df = qs[name](spark, sf_dir)
                with tr.span(f"query.{name}.exec"):
                    df.write.format("noop").mode("overwrite").save()
                plans[name] = df
            except Exception as e:  # a failed query, reported by name
                check[name] = f"error: {e!r}"[:300]
            lay[f"query.{name}.build_s"] = sum(tr.durations(f"query.{name}.build"))
            lay[f"query.{name}.exec_s"] = sum(tr.durations(f"query.{name}.exec"))
        lay[f"analytics.{fam}_query_s"] = time.perf_counter() - f0
    for name, df in plans.items():
        lay[f"query.{name}.exchanges"] = float(exchange_count(df))

    # ---- output checks (outside the timed spans)
    con = duckdb.connect()
    for t in ("events", "documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(sf_dir, t)}.parquet'")
    oracles = oracle_sql()
    for name in SEQUENCE:
        if name in check:
            continue
        try:
            got = qs[name](spark, sf_dir).toPandas()
            if name in oracles:
                ok = reference.fingerprint(got) == reference.fingerprint(
                    con.sql(oracles[name]).df()
                )
            else:
                ok = len(got) > 0
            check[name] = "ok" if ok else "mismatch"
        except Exception as e:  # a failed check, reported by name
            check[name] = f"error: {e!r}"[:300]
    con.close()
    return lay, check
