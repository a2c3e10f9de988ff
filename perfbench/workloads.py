"""The workloads: which inputs each generates and which jobs a pass runs.
A job is one declared catalog query or one pipeline from
``perfbench.pipelines``. The ingest artifacts a workload's jobs read are
built in set-up."""

from __future__ import annotations

from dataclasses import dataclass

from perfbench.gen import Spec

#: operator family (``pipes_spark.operators`` module) of a catalog query,
#: for ``operators.<family>_s``
FAMILIES = ("relational", "timeseries", "dedup", "similarity", "text", "udfs", "multimodal")


def family(query: str) -> str:
    if query.startswith(("multimodal_", "source_avro")):
        return "multimodal"
    if query.startswith("sim_"):
        return "similarity"
    if query.startswith("dedup_") and query != "dedup_keyed":
        return "dedup"
    if query.startswith("text_"):
        return "text"
    if query.startswith("udf_"):
        return "udfs"
    if query.startswith(("events_", "sessionize_", "ts_")):
        return "timeseries"
    return "relational"


def ingest(spark, sf_dir: str, jobs) -> None:
    """Build the warehouse ingest artifacts that ``jobs`` read: the MinHash
    signature table (appended to by ``curate``)."""
    from pipes_spark.warehouse import minhash_signature_table

    if "curate" in jobs:
        minhash_signature_table(spark, sf_dir)


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    spec: Spec
    queries: tuple[str, ...] = ()
    pipelines: tuple[str, ...] = ()
    #: untimed passes between the cold pass and the timed ones, while the
    #: JIT is still compiling the jobs' hot code
    warmup_passes: int = 0
    #: timed warm passes a run makes at least (more follow until
    #: ``--seconds`` have passed). A fixed count, so that runs on a faster
    #: or slower host time the same passes.
    warm_passes: int = 1

    @property
    def jobs(self) -> tuple[str, ...]:
        return self.queries + self.pipelines


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="sql_analytics",
            why=(
                "TPC-H-style and timeseries queries on an sf0.35 star schema: scan, "
                "shuffle and codegen'd JVM work dominate while Python workers idle"
            ),
            spec=Spec(sf=0.35, docs=500, near_dup_share=0.1, vectors=500, clusters=10),
            queries=(
                "q18_large_volume",
                "q21_waiting_supplier",
                "events_path_transitions",
            ),
            # the first warm pass still warms up here (1.2-1.6x the next)
            warmup_passes=1,
            warm_passes=2,
        ),
        Workload(
            name="dataprep_pipelines",
            why=(
                "LLM data prep: dedup, similarity, text and pandas-UDF queries plus "
                "multi-sink curation, streaming and codec pipelines; Python-heavy"
            ),
            spec=Spec(sf=0.02, docs=6000, near_dup_share=0.2, vectors=3000, clusters=16),
            queries=(
                "dedup_prefix_doubling",
                "sim_cosine_topk",
                "text_quality",
                "udf_grouped_zscore",
            ),
            pipelines=("curate", "stream_ingest", "media"),
        ),
    )
}
