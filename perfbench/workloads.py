"""Workload registry. A workload class takes the ``harness.Run`` and
provides ``stage`` (inputs from the seed, not billed), ``warm_up``
(billed in ``setup_s``), ``install(tracer)``, ``measure(deadline,
tracer)``, ``check`` and ``layer_metrics(tracer, groups)``."""

from headline_queries import HeadlineQueries
from pipeline_bulk import PipelineBulk
from stream_ingest import StreamIngest

WORKLOADS = {
    "pipeline_bulk": PipelineBulk,
    "stream_ingest": StreamIngest,
    "headline_queries": HeadlineQueries,
}
