"""The three benchmark workloads: inputs, warm-up, one timed job, checks.

Every timed job ends in a sink (noop, or the pipeline's parquet
output); nothing is collected to the driver. Each job's output digest,
row count and error-row count ride the job itself through
``DataFrame.observe`` (extract_small, extract_large) or are read back
from the written output after the timer stops (crawl_job).
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

import inputs
import replay
from html5ever_elixir_spark.operators.parse import parse_and_extract
from html5ever_elixir_spark.plans.pipeline import run_extraction_pipeline
from html5ever_elixir_spark.sources.pages import pages_from_documents
from html5ever_elixir_spark.sources.warc import parse_warc_records, warc_to_pages

OUTPUT_FIELDS = ("url", "error", "text", "title", "links", "n_nodes")
# bucket groups of the crawl pipeline: more than one, so the deduped
# frame is persisted and reused as in a multi-group production run
N_GROUPS = 2


def row_hash_col(*cols: str):
    """Spark twin of ``replay.row_hash``: the same md5 prefix per row."""
    parts = []
    for c in cols:
        v = F.array_join(F.col(c), replay.ITEM) if c == "links" else F.col(c).cast("string")
        parts.append(F.coalesce(v, F.lit(replay.NULL)))
    s = F.concat_ws(replay.SEP, *parts)
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("decimal(38,0)")


def output_stats(df: DataFrame, cols: tuple[str, ...]) -> list:
    return [
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("errors"),
        F.sum(row_hash_col(*cols)).alias("digest"),
    ]


def _as_outcome(row: dict) -> dict:
    return {
        "rows": int(row["rows"] or 0),
        "errors": int(row["errors"] or 0),
        "digest": int(row["digest"] or 0),
    }


def _noop_observed(df: DataFrame, cols: tuple[str, ...]) -> dict:
    obs = Observation("bench")
    df.observe(obs, *output_stats(df, cols)).write.format("noop").mode("overwrite").save()
    return _as_outcome(obs.get)


class Workload:
    """One workload. ``sizes`` maps a scale name to the input size."""

    name = ""
    sizes: dict = {}
    encoding = "strict"
    markdown = False

    def __init__(self, work: str, seed: int, scale: str):
        self.work = work
        self.seed = seed
        self.size = self.sizes[scale]
        self.stats: dict = {}

    def generate(self) -> dict:
        raise NotImplementedError

    def warmup(self, spark) -> None:
        """Untimed: one full job, so the timed jobs find the workers
        started and the code paths compiled."""
        self.run_job(spark, -1)

    def run_job(self, spark, i: int):
        """The timed part; returns what ``outcome`` needs."""
        raise NotImplementedError

    def outcome(self, spark, handle) -> dict:
        """Untimed: rows, error rows and digest of one job's output."""
        return handle

    def source_dir(self) -> str:
        """The input directory the job scans."""
        raise NotImplementedError

    def expected(self, spark, digest: int | None = None) -> dict:
        """What every job's outcome must equal. Rows and error rows come
        from the generator; the digest from the driver-side replay
        (``digest``, or a replay run here)."""
        if digest is None:
            digest = replay.digest(self.replay_docs(spark), self.encoding)
        return {"rows": self.stats["docs"], "errors": self.stats["invalid_rows"],
                "digest": digest}

    def replay_docs(self, spark) -> list:
        """(url, html) of one job's input documents, in a fixed order."""
        raise NotImplementedError


class ExtractSmall(Workload):
    """sf0.1-shaped template pages (~570 B), strict UTF-8, noop sink."""

    name = "extract_small"
    sizes = {"full": 16_000, "toy": 400}
    cols = ("url", "text")

    def generate(self):
        self.stats = inputs.write_documents(self.work, self.seed, self.size, 8)
        return self.stats

    def run_job(self, spark, i):
        # the hash exchange of bench.py's extract_pipeline query
        pages = pages_from_documents(spark, self.work)
        n = spark.sparkContext.defaultParallelism * 2
        parsed = parse_and_extract(pages.repartition(n, F.xxhash64("url")))
        return _noop_observed(parsed, self.cols)

    def source_dir(self):
        return os.path.join(self.work, "documents.parquet")

    def expected(self, spark, digest=None):
        # the oracle: the expected extraction sources/pages.py builds in SQL
        pages = pages_from_documents(spark, self.work).withColumn(
            "error", F.lit(None).cast("string"))
        size = F.octet_length("html")
        row = pages.agg(*output_stats(pages, self.cols), F.sum(size).alias("bytes"),
                        F.percentile(size, [0.5, 0.99]).alias("q")).first().asDict()
        self.stats.update(bytes=row["bytes"], page_bytes_median=row["q"][0],
                          page_bytes_p99=row["q"][1])
        return _as_outcome(row)

    def replay_docs(self, spark):
        pages = pages_from_documents(spark, self.work).select("url", "html")
        return [(r.url, r.html) for r in pages.collect()]


class ExtractLarge(Workload):
    """Realistic 25-35 KB pages with malformed markup and ~1% invalid
    UTF-8 rows, strict gate, noop sink."""

    name = "extract_large"
    sizes = {"full": 480, "toy": 24}
    cols = OUTPUT_FIELDS

    def generate(self):
        self.stats = inputs.write_large_pages(self.work, self.seed, self.size, 8)
        return self.stats

    def run_job(self, spark, i):
        pages = spark.read.parquet(self.source_dir())
        return _noop_observed(parse_and_extract(pages), self.cols)

    def replay_docs(self, spark):
        table = pq.read_table(self.source_dir())
        return list(zip(table.column("url").to_pylist(), table.column("html").to_pylist()))

    def source_dir(self):
        return os.path.join(self.work, "pages")


class CrawlJob(Workload):
    """WARC files (per-record gzip, mixed charsets, duplicate captures,
    non-200 records) → warc_to_pages → 200 filter → the resumable
    extraction pipeline with charset sniffing and markdown, parquet out."""

    name = "crawl_job"
    sizes = {"full": 400, "toy": 40}
    encoding = "sniff"
    markdown = True
    cols = OUTPUT_FIELDS

    def generate(self):
        self.stats = inputs.write_warcs(self.work, self.seed, self.size, 8)
        return self.stats

    def run_job(self, spark, i):
        out = os.path.join(self.work, "out", f"job-{i}")
        blobs = (
            spark.read.format("binaryFile")
            .option("pathGlobFilter", "*.warc*")
            .load(self.source_dir())
            .select(F.xxhash64("path").alias("warc_id"), F.col("content"))
        )
        # the same 200-status filter and timestamp parse as
        # jobs/run_extraction.py
        pages = warc_to_pages(blobs).where(
            "error IS NULL AND (http_status IS NULL OR http_status = 200)"
        ).select(
            "url",
            F.to_timestamp(
                F.replace(F.replace("warc_ts", F.lit("T"), F.lit(" ")),
                          F.lit("Z"), F.lit(""))
            ).alias("warc_ts"),
            "html",
        )
        return out, run_extraction_pipeline(spark, pages, out, n_groups=N_GROUPS,
                                            resume=False, encoding=self.encoding,
                                            emit_markdown=self.markdown)

    def outcome(self, spark, handle):
        out, summary = handle
        df = spark.read.parquet(os.path.join(out, "extracted"))
        res = _as_outcome(df.agg(*output_stats(df, self.cols)).first().asDict())
        res["lineage_docs"] = int(summary["total_docs"])
        shutil.rmtree(out, ignore_errors=True)
        return res

    def replay_docs(self, spark):
        """Walk the WARC files, keep 200 records, then the newest capture
        per url (md5 of the body breaks timestamp ties), as the job does."""
        latest: dict = {}
        for path in sorted(glob.glob(os.path.join(self.source_dir(), "*.warc*"))):
            with open(path, "rb") as f:
                blob = f.read()
            for rec in parse_warc_records(blob):
                if rec.get("error") is not None or rec["status"] not in (None, 200):
                    continue
                key = (rec["date"], hashlib.md5(rec["html"]).hexdigest())
                if rec["url"] not in latest or key > latest[rec["url"]][0]:
                    latest[rec["url"]] = (key, rec["html"])
        return [(u, latest[u][1]) for u in sorted(latest)]

    def source_dir(self):
        return os.path.join(self.work, "warc")

    def expected(self, spark, digest=None):
        out = super().expected(spark, digest)
        out["rows"] = out["lineage_docs"] = self.stats["expected_docs"]
        return out


WORKLOADS = {w.name: w for w in (ExtractSmall, ExtractLarge, CrawlJob)}
