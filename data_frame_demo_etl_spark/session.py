"""SparkSession factory with scale-oriented defaults.

Design notes (100 TB intent): AQE enabled so runtime re-plans coalesce
shuffle partitions and split skewed ones; an explicit shuffle-partition
default, overridable for a real cluster through the
``SPARK_GRAFT_SHUFFLE`` environment variable (or ``extra_conf``);
Arrow enabled for the few Pandas-UDF paths (multimodal, stateful
streaming).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "*")


def get_spark(
    app_name: str = "data-frame-demo-etl-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults applied."""
    builder = SparkSession.builder.appName(app_name)
    builder = builder.master(master or f"local[{DEFAULT_CPUS}]")
    conf = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions": str(DEFAULT_SHUFFLE_PARTITIONS),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Python DataSource filter pushdown (xlsx_lite reader) is
        # opt-in as of Spark 4.1.
        "spark.sql.python.filterPushdown.enabled": "true",
        # Keep broadcast threshold generous: all dim tables in the star
        # schema (region/nation/supplier/part) stay broadcastable.
        "spark.sql.autoBroadcastJoinThreshold": "64m",
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.enabled": "false",
        "spark.sql.warehouse.dir": os.environ.get(
            "SPARK_GRAFT_WAREHOUSE",
            os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".tmp", "spark-warehouse"),
        ),
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def materialize(df) -> None:
    """Fully execute a DataFrame, EVALUATING every output column — the
    measurement action for perfbench's registry queries.

    ``.count()`` is NOT full execution: for counting, Catalyst prunes
    every unreferenced expression — it ELIMINATES a left outer join
    whose right side is unique-keyed (any gate shaped ``base LEFT JOIN
    per_key_agg``: docs_remove_duplicate_spans "counted" in 0.2 s
    while its real work is 2.0 s at sf0.1) and drops the AGGREGATE
    EXPRESSIONS from final groupBys (q1's eight decimal sums were
    never computed: 0.34 s count vs 1.05 s honest).

    The action here is a global agg over (count, bit_xor(xxhash64(all
    columns))): referencing every column defeats both optimizations,
    and the only overhead added is hashing the RESULT rows plus a
    one-row exchange. A no-op V2 write also measures honestly but
    adds ~0.5–0.9 s of write-job overhead per query and re-executes
    Arrow/Python stages (measured 5.8 s vs 2.4 s on the progressive-
    JPEG gate) — wrong for benchmarking. Columns whose type contains a
    map/variant ANYWHERE (top-level or nested inside array/struct) are
    hashed through to_json — xxhash64 rejects map types at any nesting
    depth, so a prefix check alone would crash on array<map<...>>."""
    from pyspark.sql import functions as F

    cols = [
        F.to_json(F.col(c)) if ("map" in t or "variant" in t) else F.col(c)
        for c, t in df.dtypes
    ]
    df.agg(F.count(F.lit(1)), F.bit_xor(F.xxhash64(*cols))).collect()


def release_all_caches(spark: SparkSession) -> None:
    """Drop every CacheManager entry in the session — the one release
    call for every operator's persisted intermediates.

    Cache lifecycle policy: library operators (minhash, jaccard, BM25,
    TF-IDF, IVF, novelty, incremental dedup, the LLM pipeline, the
    co-purchase pair table behind the graph gates) persist
    intermediates that feed the LAZY frame they return — the cache
    must outlive the function for the caller's action to benefit, so
    they cannot unpersist internally, and eager checkpointing inside a
    reusable operator would break downstream pushdown/pruning
    composition. No operator keeps a private memo of its own. The
    contract is therefore: the SESSION owner calls this between
    logical queries in a long-lived session (services between
    requests). Bounded one-row-per-key aggregates that are consumed
    within a single gate (TPC-H Q11/Q15, the quarantine readers)
    release their own caches via checkpoint-then-unpersist instead.
    """
    spark.catalog.clearCache()
