from cngi_prototype_spark.plans.inspect import (  # noqa: F401
    broadcast_hint_count,
    build_cost,
    build_jobs,
    count_exchanges,
    explain_formatted,
    has_broadcast_join,
    has_partial_aggregation,
    pushed_filters,
    read_schemas,
)
