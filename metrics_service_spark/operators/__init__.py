"""Operator library: reference-surface operators (sessionization,
closure, COUNTER, spine, ip-range) and the training-data extensions
(dedup, similarity, text, multimodal).  See README.md for the
SURVEY §2 coverage map."""

from metrics_service_spark.operators.closure import (  # noqa: F401
    connected_components,
    connected_components_star,
    expand_family,
    resolve_chains,
)
from metrics_service_spark.operators.counter import (  # noqa: F401
    counter_report,
    counter_unique_total,
)
from metrics_service_spark.operators.sessionize import (  # noqa: F401
    hash_session_id,
    last_event_per_key,
    session_bounds,
    sessionize,
    sessionize_bucketed,
    top_k_per_key,
)
from metrics_service_spark.operators.spine import date_spine, zero_fill  # noqa: F401
