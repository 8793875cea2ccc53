"""Query plans — the engine's operator inventory, one function per
SURVEY.md §2 operator, each paired with a DuckDB oracle SQL string.

Import side effect: importing this package registers every plan in
``registry.all_plans()``.
"""

from compendium_spark.plans import (  # noqa: F401
    ann,
    bloom,
    crawl2docs,
    curation,
    dq,
    extended,
    frontier,
    graph,
    history,
    incremental,
    ingest,
    ivf,
    kmeans,
    knn,
    mmr,
    multimodal,
    olap_ext,
    pq,
    quality,
    reference_ops,
    reference_ops2,
    registry,
    relational_ext,
    scoring,
    semantic,
    sinks,
    sketches,
    streaming_plans,
    text,
    timeseries,
    tpch,
    tpch2,
    tpch3,
    windows,
)

all_plans = registry.all_plans
