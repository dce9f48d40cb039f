"""The benchmark's workloads, by the name ``--workload`` takes."""

from .lineage_rw import LineageRW
from .oltp_point import OltpPoint

WORKLOADS = {
    "oltp_point": OltpPoint,
    "lineage_rw": LineageRW,
}
