"""The benchmark's fixed workloads.

``simjoin_graph`` is a list of catalog entries run closed-loop by one
client; ``reid_stream`` drives ``queries_streaming.s24_build_stream``
open-loop. Why each exists, and which entries were left out and why,
is in README.md next to this file.
"""

from __future__ import annotations

from dataclasses import dataclass
from pathlib import Path

# sf0.1 tables the batch entries read, copied from the repository's
# generated test data
SF_DIR = Path(__file__).resolve().parent / "data" / "sf0.1"


@dataclass(frozen=True)
class BatchWorkload:
    name: str
    entries: tuple[str, ...]


SIMJOIN_GRAPH = BatchWorkload(
    "simjoin_graph",
    (
        "q26_ngram_jaccard_top_pairs",
        "q106_prefix_filter_join",
        "q154_edge_triangle_support",
    ),
)

BATCH = {w.name: w for w in (SIMJOIN_GRAPH,)}


@dataclass(frozen=True)
class StreamWorkload:
    name: str
    videos_per_file: int
    # files landed before the clock starts; their first trigger is the
    # untimed warm-up that compiles the streaming plan
    warmup_files: int
    # open-loop landing rate: about 0.65 of the drain rate measured on
    # a 4-core host (README.md, "Stream rate")
    files_per_s: float
    # state-store partitions, as the s24 catalog entry sizes them
    shuffle_partitions: int = 4


REID_STREAM = StreamWorkload(
    "reid_stream", videos_per_file=1, warmup_files=1, files_per_s=0.7
)

NAMES = (*BATCH, REID_STREAM.name)
