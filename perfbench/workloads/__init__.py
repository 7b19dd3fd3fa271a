"""The benchmark's workloads, by name."""

from workloads.dashboard_read import DashboardRead
from workloads.ingest_maintain import IngestMaintain
from workloads.vector_dedup import VectorDedup

WORKLOADS = {w.name: w for w in (DashboardRead, IngestMaintain, VectorDedup)}
