"""Multi-sink pipeline graphs for the ``dataprep_pipelines`` workload, modelled
on ``examples/corpus_pipeline.py``, ``incremental_refresh.py``,
``streaming_ingest.py`` and ``media_pipeline.py``, each with a read-back
check of its outputs.

Every pipeline is declared on the public ``NodesMap``/``Pipeline`` surface.
``declare`` returns the unbuilt ``Pipeline``; the caller times ``build``,
``start`` and ``done`` separately. Sink functions arrive wrapped by the
caller (``wrap``) so their wall time is measured around the sink call.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from pipes_spark import Final, Middle, NodesMap, Pipeline, Start
from pipes_spark.operators.dedup import exact_dedup
from pipes_spark.operators.multimodal import (
    audio_pcm_features,
    avi_frame_sample_stats,
    encode_avi_assets,
    encode_jpeg_assets,
    encode_wav_assets,
    jpeg_decode_stats,
)
from pipes_spark.operators.text import with_quality_scores
from pipes_spark.sinks import write_parquet
from pipes_spark.sources import load_table
from pipes_spark.streaming import read_stream_parquet, stream_dedup
from pipes_spark import warehouse

#: id offset of the re-crawled batch in pass ``p``: (p + 1) * BATCH_OFFSET
BATCH_OFFSET = 10_000_000
STREAM_FILES = 2
#: the media pipeline encodes one asset per document whose id is a multiple
#: of MEDIA_EVERY and below MEDIA_DOCS, so its codec work does not grow
#: with the corpus
MEDIA_EVERY = 4
MEDIA_DOCS = 800
VIDEO_EVERY_K = 2

#: operator family a pipeline's wall time is attributed to, if any
FAMILY = {"media": "multimodal"}


class Curate(NodesMap):
    corpus = Start()     # documents already in the corpus
    batch = Start()      # a new crawl drop, fresh ids every pass
    merged = Middle()    # fan-in: corpus ∪ batch
    dedup = Middle()     # exact dedup, smallest id wins
    gate = Middle()      # disabled by its provider: a zero-cost bypass
    annotate = Middle()  # quality scores; persisted fan-out to four sinks
    docs_out = Final()   # parquet partitioned by lang
    stats = Final()      # per-lang counts, collected
    shards = Final()     # parquet in a fixed number of files
    sigs = Final()       # warehouse append of the batch's MinHash signatures

    def connect(self):
        self.corpus.send_to(self.merged)
        self.batch.send_to(self.merged)
        self.merged.send_to(self.dedup)
        self.dedup.send_to(self.gate)
        self.gate.send_to(self.annotate)
        self.annotate.send_to(self.docs_out, self.stats, self.shards, self.sigs)


class StreamIngest(NodesMap):
    events = Start()     # parquet drops read as a stream, one file per batch
    dedup = Middle()     # stateful dedup on event_id under a watermark
    enrich = Middle()    # hour bucket
    sink = Final()       # parquet file sink, availableNow trigger

    def connect(self):
        self.events.send_to(self.dedup)
        self.dedup.send_to(self.enrich)
        self.enrich.send_to(self.sink)


class Media(NodesMap):
    manifest = Start()   # per-document asset parameters
    image = Middle()     # JPEG encode, then decode statistics
    audio = Middle()     # WAV encode, then PCM features
    video = Middle()     # Motion-JPEG AVI encode, then sampled-frame statistics
    report = Final()     # fan-in of the three branches, per-modality totals

    def connect(self):
        self.manifest.send_to(self.image, self.audio, self.video)
        self.image.send_to(self.report)
        self.audio.send_to(self.report)
        self.video.send_to(self.report)


#: the media manifest, as SQL over documents (Spark and DuckDB agree on it)
MEDIA_MANIFEST = {
    "width": "doc_id % 27 + 1",
    "height": "(doc_id * 3) % 21 + 1",
    "n_samples": "doc_id % 200 + 20",
    "channels": "doc_id % 2 + 1",
    "n_frames": "doc_id % 4 + 2",
}


def _media_branches(df):
    image = jpeg_decode_stats(encode_jpeg_assets(df, "doc_id", "width", "height")).select(
        "asset_id", F.lit("image").alias("modality"), F.col("n_pixels").alias("units")
    )
    audio = audio_pcm_features(
        encode_wav_assets(df, "doc_id", "n_samples", "sample_rate", "channels")
    ).select("asset_id", F.lit("audio").alias("modality"), F.col("n_samples").alias("units"))
    video = (
        avi_frame_sample_stats(
            encode_avi_assets(df, "doc_id", "width", "height", "n_frames"), VIDEO_EVERY_K
        )
        .groupBy("asset_id")
        .agg(F.count(F.lit(1)).alias("units"))
        .select("asset_id", F.lit("video").alias("modality"), "units")
    )
    return image, audio, video


def _sig_table(sf_dir: str) -> str:
    return f"mh_sigs_documents_{warehouse._tag(sf_dir)}_64_3"


def declare(name, spark, sf_dir, out, pass_no, wrap):
    """The unbuilt ``Pipeline`` for pipeline ``name`` in pass ``pass_no``;
    outputs go under ``out``. ``wrap(sink_name, fn, append=False)`` times a
    sink; ``append`` marks one whose work is a warehouse ``append_*`` call."""
    if name == "curate":
        off = (pass_no + 1) * BATCH_OFFSET
        p = Pipeline(Curate, spark=spark)
        docs = lambda s: load_table(s, sf_dir, "documents")  # noqa: E731
        p.add_start("corpus", lambda s: docs(s).filter(F.col("doc_id") % 4 != 0))
        p.add_start(
            "batch",
            lambda s: docs(s)
            .filter(F.col("doc_id") % 4 == 0)
            .withColumn("doc_id", F.col("doc_id") + off),
        )
        p.add_middle("dedup", lambda df: exact_dedup(df).drop("fingerprint"))
        p.add_middle_provider("gate", lambda: None)
        p.add_middle("annotate", with_quality_scores)
        p.add_final(
            "docs_out", wrap("docs_out", write_parquet(f"{out}/docs", partition_by=["lang"]))
        )
        p.add_final(
            "stats",
            wrap(
                "stats",
                lambda df: {
                    r["lang"]: r["n"]
                    for r in df.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
                },
            ),
        )
        p.add_final("shards", wrap("shards", write_parquet(f"{out}/shards", target_files=4)))
        p.add_final(
            "sigs",
            wrap(
                "sigs",
                lambda df: warehouse.append_minhash_signatures(
                    spark, sf_dir, df.filter(F.col("doc_id") >= off).select("doc_id", "text")
                ),
                append=True,
            ),
        )
        return p
    if name == "stream_ingest":
        p = Pipeline(StreamIngest, spark=spark)
        p.add_start(
            "events",
            lambda s: read_stream_parquet(
                s,
                f"{sf_dir}/_stream_drops",
                "event_id long, ts timestamp, user_id long, event_type string, value double",
                max_files_per_trigger=1,
            ),
        )
        p.add_middle("dedup", lambda df: stream_dedup(df, ["event_id"], "ts", "1 hour"))
        p.add_middle("enrich", lambda df: df.withColumn("hour", F.date_trunc("hour", "ts")))
        p.add_final(
            "sink",
            wrap(
                "sink",
                lambda df: df.writeStream.format("parquet")
                .option("path", f"{out}/stream")
                .option("checkpointLocation", f"{out}/stream_ckpt")
                .trigger(availableNow=True)
                .start(),
            ),
        )
        return p
    if name == "media":
        p = Pipeline(Media, spark=spark)
        p.add_start(
            "manifest",
            lambda s: load_table(s, sf_dir, "documents")
            .filter((F.col("doc_id") % MEDIA_EVERY == 0) & (F.col("doc_id") < MEDIA_DOCS))
            .select(
                "doc_id",
                *(F.expr(e).cast("int").alias(c) for c, e in MEDIA_MANIFEST.items()),
                F.lit(8000).alias("sample_rate"),
            ),
        )
        for i, branch in enumerate(("image", "audio", "video")):
            p.add_middle(branch, lambda df, i=i: _media_branches(df)[i])
        p.add_final(
            "report",
            wrap(
                "report",
                lambda df: {
                    r["modality"]: (r["n"], r["units"])
                    for r in df.groupBy("modality")
                    .agg(F.count(F.lit(1)).alias("n"), F.sum("units").alias("units"))
                    .collect()
                },
            ),
        )
        return p
    raise ValueError(f"unknown pipeline {name!r}")


def prepare(sf_dir: str, rng_seed: int) -> None:
    """Set-up for ``stream_ingest``: split the events table into
    ``STREAM_FILES`` time-ordered drops plus one drop of re-sent events."""
    import numpy as np

    t = pq.read_table(
        f"{sf_dir}/events.parquet", columns=["event_id", "ts", "user_id", "event_type", "value"]
    )
    d = f"{sf_dir}/_stream_drops"
    os.makedirs(d)
    n = t.num_rows
    bounds = np.linspace(0, n, STREAM_FILES + 1).astype(int)
    for i in range(STREAM_FILES):
        pq.write_table(t.slice(bounds[i], bounds[i + 1] - bounds[i]), f"{d}/drop-{i}.parquet")
    rng = np.random.default_rng(rng_seed)
    tail = np.arange(bounds[-2], n)
    resend = np.sort(rng.choice(tail, size=max(1, len(tail) // 20), replace=False))
    pq.write_table(t.take(pa.array(resend)), f"{d}/drop-{STREAM_FILES}.parquet")


def check(name, con, sf_dir, out, warehouse_dir, result, passes) -> list[str]:
    """Read back one pipeline's outputs after its last pass and compare them
    with counts recomputed by DuckDB on the same inputs. ``passes`` is the
    number of passes run (every pass appended one batch). Returns the
    problems found; empty means correct."""
    bad: list[str] = []

    def expect(what, got, want):
        if got != want:
            bad.append(f"{name}.{what}: got {got!r}, expected {want!r}")

    def one(sql):
        return con.sql(sql).fetchone()

    def rows(glob):
        return one(f"select count(*) from read_parquet('{glob}')")[0]

    docs = f"read_parquet('{sf_dir}/documents.parquet')"
    if name == "curate":
        off = passes * BATCH_OFFSET
        survivors = f"""
            select min(id) as id, arg_min(lang, id) as lang from (
              select case when doc_id % 4 = 0 then doc_id + {off} else doc_id end as id,
                     text, lang from {docs}) group by text"""
        total, new = one(f"select count(*), count(*) filter (where id >= {off}) from ({survivors})")
        by_lang = dict(con.sql(f"select lang, count(*) from ({survivors}) group by lang").fetchall())
        expect("docs_out rows", rows(f"{out}/docs/*/*.parquet"), total)
        expect("shards rows", rows(f"{out}/shards/*.parquet"), total)
        expect("shards files", len([f for f in os.listdir(f"{out}/shards") if f.endswith(".parquet")]), 4)
        expect("stats", result["stats"], by_lang)
        base = one(f"select count(*) from {docs}")[0]
        sigs = rows(f"{warehouse_dir}/{_sig_table(sf_dir).lower()}/*.parquet")
        expect("sigs rows", sigs, base + passes * new)
    elif name == "stream_ingest":
        drops = f"read_parquet('{sf_dir}/_stream_drops/*.parquet')"
        expect("stream rows", rows(f"{out}/stream/*.parquet"), one(f"select count(distinct event_id) from {drops}")[0])
        batches = [p for p in result["progress"] if p["num_input_rows"]]
        expect("stream data batches", len(batches), STREAM_FILES + 1)
    elif name == "media":
        m = MEDIA_MANIFEST
        n, pixels, samples, frames = one(
            f"select count(*), sum(({m['width']}) * ({m['height']})), sum({m['n_samples']}), "
            f"sum(ceil(({m['n_frames']}) / {VIDEO_EVERY_K})) from {docs} "
            f"where doc_id % {MEDIA_EVERY} = 0 and doc_id < {MEDIA_DOCS}"
        )
        want = {"image": (n, pixels), "audio": (n, samples), "video": (n, frames)}
        expect("report", result["report"], {k: (v[0], int(v[1])) for k, v in want.items()})
    else:
        raise ValueError(f"unknown pipeline {name!r}")
    return bad
