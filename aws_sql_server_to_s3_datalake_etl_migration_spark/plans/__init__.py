"""Control plane (SURVEY.md §2.8 O1–O9, §2.9 R1–R5): dependency
layering, dependency-ready parallel/serial execution, operational metastore,
reconciliation."""

from .dependencies import layered_jobs, layers_from_edges
from .infra import bootstrap, database_exists
from .runner import JobResult, JobRunner
from .metastore import OperationalMetastore, METADATA_SCHEMA
from .recon import recon_report

__all__ = [
    "layered_jobs",
    "layers_from_edges",
    "bootstrap",
    "database_exists",
    "JobResult",
    "JobRunner",
    "OperationalMetastore",
    "METADATA_SCHEMA",
    "recon_report",
]
