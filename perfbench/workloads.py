"""The benchmark workloads: inputs made from the seed, one operation each,
and a check of every operation's output.

Each workload is a closed loop with one client: the next operation starts
only when the previous one and its check have finished. A workload object
is built in two steps: the constructor makes the inputs (the timed set-up)
and ``run``/``check`` are one operation and its check. ``counts`` holds the
deterministic counts of the first checked operation; a later operation whose
counts differ fails its check (the determinism guard).

Why these: ``ingest`` is EXPORT (encode + sink, no decode) and ``scan`` is
a full IMPORT (decode, no encode), so each codec-side layer is exercised by
one and bypassed by the other. ``Lookup`` (IMPORT with filter pushdown) and
``Dedup`` (the text operators, no codec at all) make the inputs of their
layer studies in traced runs; they are not timed workloads (see spec.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_etl_udfs_spark.operators.encode import (
    decode_chunks_colocated,
    encode_pages,
)
from hadoop_etl_udfs_spark.plans.lineage import (
    chunks_path,
    decode_chunks_where_clustered,
    decode_chunks_where_key_in,
    read_encoded_colocated,
    read_manifest,
    write_encoded,
)
from hadoop_etl_udfs_spark.sources.iceberg_lite import read_iceberg, write_iceberg_table
from hadoop_etl_udfs_spark.sources.pages import pages_input_bytes, synthesize_pages

from .spec import PAGE_COLUMNS
from .trace import Tracer

# Sizes at --scale 1, chosen so that one ingest or scan operation takes
# about a second on a 4-core box and a 20 s run holds several of them.
PAGES_DOCS = 30_000
DEDUP_DOCS = 4_000
# The lookup sink holds at least LOOKUP_CHUNKS chunks, so that pruning keeps
# few of many. A Python task has a large fixed cost (~0.35 s of worker time
# measured on a 4-core box), so the chunks come from few range partitions
# cut into small Arrow batches rather than from one task per chunk.
LOOKUP_CHUNKS = 64
LOOKUP_PARTITIONS = 8
# point reads of each kind the lookup study times
LOOKUP_KEYS = 3
# half-width of a range lookup on warc_ts; pages are ~1 ms apart
RANGE_HALF_WIDTH_US = 50_000
# Share of the planted near-duplicate pairs that must end in one cluster.
# LSH misses a pair that shares no band, so this is a floor against a broken
# stage, not an exact check. With ideal MinHash a planted pair (Jaccard >=
# 0.9) is missed with probability below 2e-4. The engine's permutations are
# linear in the two 32-bit halves of a shingle hash, and a shingle with small
# halves wins many of them: one appended shingle was measured winning 13 of
# 32 permutations (1.3 expected), and ~1e-3 of the planted pairs are split.
# The per-layer dedup.recall and dedup.planted_together_frac show that rate.
PLANTED_FLOOR = 0.99

# the EXPORT configuration every sink of the benchmark is written with
ENCODE_ARGS = {"salt_buckets": 8, "cluster_by": "warc_ts", "bloom_by": ["url"]}

OFF = Tracer("off", enabled=False)


def fingerprint(df: DataFrame) -> tuple[int, int]:
    """Order-free content fingerprint of a pages DataFrame: row count and the
    XOR of every row's xxhash64 over all columns (a sum would overflow, which
    raises under ANSI mode)."""
    row = df.agg(
        F.count("*").alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64(*PAGE_COLUMNS)), F.lit(0)).alias("x"),
    ).collect()[0]
    return int(row["n"]), int(row["x"])


def data_file_bytes(path: str) -> int:
    """Bytes of the data files under ``path`` (no ``_SUCCESS`` or ``.crc``
    side files)."""
    total = 0
    for d, _, files in os.walk(path):
        total += sum(
            os.path.getsize(os.path.join(d, f))
            for f in files
            if not f.startswith((".", "_"))
        )
    return total


class PagesTable:
    """The synthetic pages, written as an Iceberg table: the input of
    ``ingest`` and the source of the ``scan`` and ``lookup`` sinks."""

    def __init__(self, spark: SparkSession, path: str, seed: int, n_docs: int):
        self.spark = spark
        self.path = path
        write_iceberg_table(synthesize_pages(spark, n_docs, seed=seed), path, mode="overwrite")
        df = self.read()
        self.input_bytes = pages_input_bytes(df)
        self.fp = fingerprint(df)
        self.n_rows = self.fp[0]

    def read(self) -> DataFrame:
        return read_iceberg(self.spark, self.path)


def sink_counts(spark: SparkSession, sink: str, n_rows: int) -> tuple[dict, list[str]]:
    """(deterministic counts, problems) of a chunk sink, from its manifest.
    Problems: manifest rows are not 5 per chunk, or a column's chunks do not
    add up to the input rows."""
    man = read_manifest(spark, sink)
    tot = man.agg(
        F.count("*").alias("rows"), F.countDistinct("chunk_id").alias("chunks")
    ).collect()[0]
    by = man.groupBy("column", "codec").agg(
        F.count("*").alias("n"), F.sum("n_rows").alias("rows"),
        F.sum("bytes_in").alias("bytes_in"), F.sum("bytes_out").alias("bytes_out"),
    ).collect()
    rows_by_col: dict[str, int] = {}
    mix: dict[str, int] = {}
    bytes_in: dict[str, int] = {}
    bytes_out: dict[str, int] = {}
    for r in by:
        rows_by_col[r["column"]] = rows_by_col.get(r["column"], 0) + r["rows"]
        mix[r["codec"]] = mix.get(r["codec"], 0) + r["n"]
        bytes_in[r["column"]] = bytes_in.get(r["column"], 0) + r["bytes_in"]
        bytes_out[r["column"]] = bytes_out.get(r["column"], 0) + r["bytes_out"]
    problems = []
    if tot["rows"] != len(PAGE_COLUMNS) * tot["chunks"]:
        problems.append(f"manifest has {tot['rows']} rows for {tot['chunks']} chunks")
    for c in PAGE_COLUMNS:
        if rows_by_col.get(c) != n_rows:
            problems.append(f"column {c}: chunks hold {rows_by_col.get(c)} rows, input {n_rows}")
    counts = {
        "stored_bytes": data_file_bytes(chunks_path(sink)),
        "chunks": tot["chunks"],
        "codec_mix": dict(sorted(mix.items())),
        "bytes_in": bytes_in,
        "bytes_out": bytes_out,
    }
    return counts, problems


class Workload:
    """Base: ``check_counts`` is the determinism guard shared by all four."""

    name = ""
    counts: dict | None = None
    data_mb = 0.0  # logical MB one operation covers
    setup_problems: list[str]  # failed checks of the inputs built in set-up

    def check_counts(self, counts: dict) -> list[str]:
        if self.counts is None:
            self.counts = counts
            return []
        if counts != self.counts:
            return [f"deterministic counts drifted: {counts} != {self.counts}"]
        return []


class Ingest(Workload):
    """EXPORT: read the pages Iceberg table, encode, write the sink."""

    name = "ingest"

    def __init__(self, spark: SparkSession, work: str, pages: PagesTable):
        self.spark, self.pages = spark, pages
        self.sink = os.path.join(work, "ingest_sink")
        self.data_mb = pages.input_bytes / 1e6
        self.setup_problems = []

    def run(self, i: int, tracer: Tracer = OFF):
        with tracer.span("sources.read_iceberg"):
            df = self.pages.read()
        with tracer.span("operators.encode.encode_pages"):
            enc = encode_pages(df, **ENCODE_ARGS)
        with tracer.span("plans.lineage.write_encoded"):
            write_encoded(enc, self.sink, mode="overwrite")

    def check(self, out, i: int) -> list[str]:
        counts, problems = sink_counts(self.spark, self.sink, self.pages.n_rows)
        return problems + self.check_counts(counts)


class Scan(Workload):
    """Full IMPORT: colocated read and decode of a sink written in set-up,
    all five columns, consumed by the fingerprint aggregate."""

    name = "scan"

    def __init__(self, spark: SparkSession, work: str, pages: PagesTable):
        self.spark, self.pages = spark, pages
        self.sink = os.path.join(work, "scan_sink")
        write_encoded(encode_pages(pages.read(), **ENCODE_ARGS), self.sink, mode="overwrite")
        self.expected = pages.fp
        self.data_mb = pages.input_bytes / 1e6
        counts, self.setup_problems = sink_counts(spark, self.sink, pages.n_rows)
        self.check_counts(counts)

    def run(self, i: int, tracer: Tracer = OFF):
        with tracer.span("plans.lineage.read_encoded_colocated"):
            enc = read_encoded_colocated(self.spark, self.sink)
        with tracer.span("operators.encode.decode_chunks_colocated"):
            dec = decode_chunks_colocated(enc)
        with tracer.span("scan.fingerprint"):
            return fingerprint(dec)

    def check(self, out, i: int) -> list[str]:
        if out != self.expected:
            return [f"decoded fingerprint {out} != input fingerprint {self.expected}"]
        return []


class Lookup(Workload):
    """IMPORT with filter pushdown, for the lookup layer study: point reads
    of sampled pages, as a Bloom-pruned url lookup and as a cluster-pruned
    narrow warc_ts range around the page."""

    name = "lookup"

    def __init__(self, spark: SparkSession, work: str, pages: PagesTable, seed: int):
        self.spark, self.pages = spark, pages
        self.sink = os.path.join(work, "lookup_sink")
        df = pages.read()
        self._write_sink(df)
        # keys: a seeded hash sample of the urls, in url order
        stride = max(1, pages.n_rows // (4 * LOOKUP_KEYS))
        sample = (
            df.filter(F.pmod(F.xxhash64("url", F.lit(seed)), F.lit(stride)) == 0)
            .withColumn("_us", F.unix_micros("warc_ts"))
            .collect()
        )
        sample = sorted(sample, key=lambda r: r["url"])[:LOOKUP_KEYS]
        self.keys = [r["url"] for r in sample]
        self.rows = [{c: r[c] for c in PAGE_COLUMNS} for r in sample]
        self.ranges = [
            (r["_us"] - RANGE_HALF_WIDTH_US, r["_us"] + RANGE_HALF_WIDTH_US) for r in sample
        ]
        us = F.unix_micros("warc_ts")
        got = df.agg(*[
            F.sum(F.when(us.between(lo, hi), 1).otherwise(0)).alias(f"r{j}")
            for j, (lo, hi) in enumerate(self.ranges)
        ]).collect()[0]
        self.range_rows = [int(got[f"r{j}"]) for j in range(len(self.ranges))]
        counts, self.setup_problems = sink_counts(spark, self.sink, pages.n_rows)
        if counts["chunks"] < LOOKUP_CHUNKS:
            self.setup_problems.append(
                f"lookup sink has {counts['chunks']} chunks, fewer than {LOOKUP_CHUNKS}"
            )
        self.check_counts(counts)

    def _write_sink(self, df: DataFrame) -> None:
        """The sink range-partitioned on warc_ts, so that a chunk's cluster
        stamp is a narrow window, in chunks of 1/LOOKUP_CHUNKS of the rows
        (the Arrow batch size is the chunk size). Two Spark settings are
        changed for this write only: the batch size, and the range sample
        raised above the row count of every input partition, which makes
        the range boundaries independent of the sampling seed (and the
        sink, hence the determinism guard, repeatable)."""
        conf = self.spark.conf
        saved = conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
        chunk_rows = max(1, self.pages.n_rows // LOOKUP_CHUNKS)
        conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", str(chunk_rows))
        conf.set("spark.sql.execution.rangeExchange.sampleSizePerPartition", str(self.pages.n_rows))
        try:
            laid_out = df.repartitionByRange(LOOKUP_PARTITIONS, "warc_ts").sortWithinPartitions("warc_ts", "url")
            enc = encode_pages(
                laid_out, shuffle=False,
                cluster_by=ENCODE_ARGS["cluster_by"], bloom_by=ENCODE_ARGS["bloom_by"],
            )
            write_encoded(enc, self.sink, mode="overwrite")
        finally:
            conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", saved)
            conf.unset("spark.sql.execution.rangeExchange.sampleSizePerPartition")

    def bloom(self, k: int, tracer: Tracer = OFF) -> list:
        with tracer.span("plans.lineage.decode_chunks_where_key_in"):
            return decode_chunks_where_key_in(self.spark, self.sink, "url", [self.keys[k]]).collect()

    def range(self, k: int, tracer: Tracer = OFF) -> int:
        lo, hi = self.ranges[k]
        with tracer.span("plans.lineage.decode_chunks_where_clustered"):
            dec = decode_chunks_where_clustered(self.spark, self.sink, lo, hi)
            return dec.filter(F.unix_micros("warc_ts").between(lo, hi)).count()

    def check_bloom(self, k: int, rows: list) -> list[str]:
        got = [{c: r[c] for c in PAGE_COLUMNS} for r in rows]
        if got != [self.rows[k]]:
            return [f"url lookup {self.keys[k]!r} returned {len(got)} rows, not its one source row"]
        return []

    def check_range(self, k: int, n: int) -> list[str]:
        if n != self.range_rows[k]:
            return [f"range lookup {self.ranges[k]} returned {n} rows, expected {self.range_rows[k]}"]
        return []


class Dedup(Workload):
    """Inputs and check of the dedup layer study (traced runs only): page
    texts with planted near-duplicate variants, for minhash signatures ->
    LSH band pairs -> star-contraction clusters."""

    name = "dedup"

    def __init__(self, spark: SparkSession, work: str, seed: int, n_docs: int):
        self.spark = spark
        base = synthesize_pages(spark, n_docs, seed=seed).select(
            F.xxhash64("url").alias("doc_id"), "text"
        )
        # about 1/4 of the docs get a variant with one appended token, 1/8 a
        # second one: the synthetic pages have no organic near-duplicates.
        # One token keeps the Jaccard similarity of a planted pair at or
        # above 0.9 even for the shortest (20-word) page, where LSH with
        # ideal MinHash and 8 bands of 4 rows would miss it with probability
        # below 2e-4 (PLANTED_FLOOR gives the engine's measured rate).
        h = F.pmod(F.xxhash64("doc_id", F.lit(seed)), F.lit(8))
        v1 = F.xxhash64("doc_id", F.lit(1))
        v2 = F.xxhash64("doc_id", F.lit(2))
        corpus = base.unionByName(
            base.filter(h < 2).select(v1.alias("doc_id"), F.concat("text", F.lit(" neardupone")).alias("text"))
        ).unionByName(
            base.filter(h < 1).select(v2.alias("doc_id"), F.concat("text", F.lit(" nearduptwo")).alias("text"))
        )
        planted = (
            base.filter(h < 2).select(F.col("doc_id").alias("a"), v1.alias("b"))
            .unionByName(base.filter(h < 1).select(F.col("doc_id").alias("a"), v2.alias("b")))
            .unionByName(base.filter(h < 1).select(v1.alias("a"), v2.alias("b")))
            .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        )
        corpus_path = os.path.join(work, "dedup_corpus")
        planted_path = os.path.join(work, "dedup_planted")
        corpus.write.mode("overwrite").parquet(corpus_path)
        planted.write.mode("overwrite").parquet(planted_path)
        self.corpus = spark.read.parquet(corpus_path)
        self.planted = spark.read.parquet(planted_path)
        self.n_planted = self.planted.count()
        self.setup_problems = []

    def planted_together(self, clusters: DataFrame) -> int:
        """Planted pairs whose two docs land in one cluster."""
        c = clusters.select("doc_id", "cluster_rep")
        ca = c.withColumnRenamed("doc_id", "a").withColumnRenamed("cluster_rep", "rep_a")
        cb = c.withColumnRenamed("doc_id", "b").withColumnRenamed("cluster_rep", "rep_b")
        return self.planted.join(ca, "a").join(cb, "b").filter(F.col("rep_a") == F.col("rep_b")).count()

    def check(self, pairs: DataFrame, clusters: DataFrame, stats: dict) -> tuple[int, list[str]]:
        """(planted pairs in one cluster, problems).

        The clusters must be exactly the connected components of the LSH
        candidate pairs, each labelled with its smallest doc id and its
        size (the contract of ``duplicate_clusters_star``), checked against
        a union-find over the collected pairs. LSH is approximate, so a
        planted pair that shares no band is missed by design: planted
        pairs are a quality figure (``dedup.recall`` and
        ``dedup.planted_together_frac``), and only a share of them below
        PLANTED_FLOOR fails. Candidate pairs and cluster count are the
        deterministic counts."""
        edges = [(r[0], r[1]) for r in pairs.select("doc_a", "doc_b").collect()]
        parent: dict[int, int] = {}

        def root(x: int) -> int:
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = root(a), root(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        members: dict[int, list[int]] = {}
        for x in parent:
            members.setdefault(root(x), []).append(x)
        want = {x: (min(ms), len(ms)) for ms in members.values() for x in ms}
        got = {
            r["doc_id"]: (r["cluster_rep"], r["cluster_size"])
            for r in clusters.select("doc_id", "cluster_rep", "cluster_size").collect()
        }
        problems = []
        if got != want:
            wrong = sum(1 for x in set(got) | set(want) if got.get(x) != want.get(x))
            problems.append(
                f"clusters are not the connected components of the candidate pairs: "
                f"{wrong} of {len(want)} docs labelled wrongly or missing"
            )
        together = self.planted_together(clusters)
        if together < PLANTED_FLOOR * self.n_planted:
            problems.append(
                f"only {together} of {self.n_planted} planted pairs are in one cluster"
                f" (floor {PLANTED_FLOOR:.0%})"
            )
        counts = {"candidate_pairs": stats.get("n_edges"), "clusters": len(members)}
        return together, problems + self.check_counts(counts)
