"""The traced per-layer study: each end-to-end operation split into the
layers (modules) it passes through.

Spark runs a plan only when an action asks for its result, so a span around
a lazy call would time nothing. Each layer is therefore timed by running a
prefix of the operation to the ``noop`` sink (or to a ``localCheckpoint``)
and, where a layer has no prefix of its own, on cached input. The codec
layers are timed inside benchmark-owned ``mapInArrow`` kernels over the same
chunks, so they run under the same parallelism as the engine's kernels;
their figures are worker seconds summed over tasks, not wall time.

Every function returns (metrics, problems); a problem is a failed check.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hadoop_etl_udfs_spark.codecs.api import decode_array, encode_array, verify_crc
from hadoop_etl_udfs_spark.codecs.frame import pack_sections, unpack_sections
from hadoop_etl_udfs_spark.codecs.selector import choose_bytes_codec, choose_int_codec
from hadoop_etl_udfs_spark.codecs.varbytes import arrow_to_varbytes
from hadoop_etl_udfs_spark.operators.dedup import (
    duplicate_clusters_star,
    lsh_band_pairs,
    minhash_signatures,
)
from hadoop_etl_udfs_spark.operators.encode import (
    _chunk_id,
    decode_chunks_colocated,
    encode_pages,
    salted_partitioning,
)
from hadoop_etl_udfs_spark.plans.bloom import bloom_build
from hadoop_etl_udfs_spark.plans.lineage import (
    bloom_candidate_chunks,
    cluster_ranges_keep_predicate,
    read_encoded,
    read_encoded_colocated,
    write_encoded,
)

from .spec import PAGE_COLUMNS
from .trace import Tracer
from .workloads import ENCODE_ARGS, Dedup, Ingest, Lookup, Scan, fingerprint


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _count_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """Pass-through kernel: receives every batch and returns one row count
    per batch — the Arrow transfer and worker cost every kernel pays."""
    for b in batches:
        yield pa.RecordBatch.from_pydict({"n": [b.num_rows]}, schema=pa.schema([("n", pa.int64())]))


def _select_codec(col: pa.Array, name: str) -> str:
    """The auto codec choice ``encode_array`` makes for a pages column."""
    dense = col.drop_null()
    if pa.types.is_timestamp(col.type):
        return choose_int_codec(dense.cast(pa.int64()).to_numpy())
    lengths, data = arrow_to_varbytes(dense)
    return choose_bytes_codec(lengths, data, cache_key=name)


_ENCODE_PROBE = pa.schema(
    [(f"encode_{c}", pa.float64()) for c in PAGE_COLUMNS]
    + [("select", pa.float64()), ("block", pa.float64()), ("bloom", pa.float64()),
       ("chunk_id", pa.float64())]
)
_ENCODE_PROBE_DDL = ", ".join(f"{n} double" for n in _ENCODE_PROBE.names)


def _encode_probe(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """Per chunk: the content hash that names it (``_chunk_id``), codec
    selection, the codec itself (``encode_array``), the block stage
    (re-packing the unpacked sections) and the url Bloom filter, each timed
    on its own."""
    clock = time.perf_counter
    for b in batches:
        row = {f: 0.0 for f in _ENCODE_PROBE.names}
        t0 = clock()
        _chunk_id(b)
        row["chunk_id"] = clock() - t0
        for name in b.schema.names:
            col = b.column(name)
            t0 = clock()
            _select_codec(col, name)
            t1 = clock()
            enc = encode_array(col, codec="auto", cache_key=name)
            t2 = clock()
            sections = unpack_sections(enc.payload)
            t3 = clock()
            pack_sections(sections)
            t4 = clock()
            row["select"] += t1 - t0
            row[f"encode_{name}"] += t2 - t1
            row["block"] += t4 - t3
        t0 = clock()
        bloom_build(b.column("url"))
        row["bloom"] += clock() - t0
        yield pa.RecordBatch.from_pydict({k: [v] for k, v in row.items()}, schema=_ENCODE_PROBE)


_DECODE_PROBE = pa.schema(
    [(f"decode_{c}", pa.float64()) for c in PAGE_COLUMNS]
    + [("unpack", pa.float64()), ("crc", pa.float64()), ("bad_crc", pa.int64())]
)
_DECODE_PROBE_DDL = ", ".join(
    f"{f.name} {'long' if f.type == pa.int64() else 'double'}" for f in _DECODE_PROBE
)


def _decode_probe(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """Per chunk row of a sink: frame unpack, ``decode_array`` and
    ``verify_crc``, each timed on its own."""
    clock = time.perf_counter
    for b in batches:
        row = {f: 0 if f == "bad_crc" else 0.0 for f in _DECODE_PROBE.names}
        cols = b.column("column").to_pylist()
        metas = b.column("meta").to_pylist()
        payloads = b.column("payload").to_pylist()
        crcs = b.column("crc32").to_pylist()
        for name, meta, payload, crc in zip(cols, metas, payloads, crcs):
            t0 = clock()
            unpack_sections(payload)
            t1 = clock()
            arr = decode_array(payload, meta)
            t2 = clock()
            ok = verify_crc(arr, crc)
            t3 = clock()
            row["unpack"] += t1 - t0
            row[f"decode_{name}"] += t2 - t1
            row["crc"] += t3 - t2
            row["bad_crc"] += 0 if ok else 1
        yield pa.RecordBatch.from_pydict({k: [v] for k, v in row.items()}, schema=_DECODE_PROBE)


def _sums(df: DataFrame) -> dict:
    return df.agg(*[F.sum(c).alias(c) for c in df.columns]).collect()[0].asDict()


def _reconcile(name: str, layers: float, wall: float) -> float:
    """How far the layer walls' sum is from the end-to-end wall, as a share
    of the wall (0 is a perfect reconciliation)."""
    print(f"perfbench: {name} layer sum / wall = {layers / wall:.3f}", file=sys.stderr)
    return abs(layers / wall - 1)


# Each wall of the ingest and scan splits is the median of this many runs: a
# single Spark job's wall varies by 10-20% from one run to the next.
REPS = 3


def _wall(tracer: Tracer, name: str, fn) -> float:
    """Median seconds of REPS runs of ``fn``, each under a span ``name``."""
    times = []
    for _ in range(REPS):
        with tracer.span(name) as s:
            fn()
        times.append(s.seconds)
    return statistics.median(times)


def ingest_layers(tracer: Tracer, ing: Ingest, work: str) -> tuple[dict, list[str]]:
    """EXPORT split into scan -> salted shuffle -> encode kernel -> sink, the
    kernel's floor, and the codec stages with the chunk-id hash."""
    spark, pages = ing.spark, ing.pages
    problems: list[str] = []

    wall = _wall(tracer, "ingest.wall", lambda: ing.run(0, tracer))
    problems += ing.check(None, 0)
    scan = _wall(tracer, "sources.read_iceberg>noop", lambda: _noop(pages.read()))
    shuffle = _wall(
        tracer, "operators.encode.salted_partitioning>noop",
        lambda: _noop(salted_partitioning(pages.read(), ENCODE_ARGS["salt_buckets"])),
    ) - scan
    prepart = salted_partitioning(pages.read(), ENCODE_ARGS["salt_buckets"]).cache()
    prepart.count()
    kernel_args = {"shuffle": False, "cluster_by": ENCODE_ARGS["cluster_by"], "bloom_by": ENCODE_ARGS["bloom_by"]}
    transfer = _wall(
        tracer, "encode.arrow_transfer>noop",
        lambda: _noop(prepart.mapInArrow(_count_batches, "n long")),
    )
    kernel = _wall(
        tracer, "operators.encode.encode_pages(shuffle=False)>noop",
        lambda: _noop(encode_pages(prepart, **kernel_args)),
    )
    # the sink's own cost: writing the cached chunks, less reading them
    enc = encode_pages(prepart, **kernel_args).cache()
    enc.count()
    sink = _wall(
        tracer, "plans.lineage.write_encoded(cached)",
        lambda: write_encoded(enc, os.path.join(work, "layers_sink"), mode="overwrite"),
    ) - _wall(tracer, "cached chunks>noop", lambda: _noop(enc))
    enc.unpersist()
    with tracer.span("codecs.encode_probe"):
        probe = _sums(prepart.mapInArrow(_encode_probe, _ENCODE_PROBE_DDL))
    prepart.unpersist()

    # codec selection and the block stage run inside encode_array; the
    # share is of the wall the ingest would take at full parallelism
    codec_s = sum(probe[f"encode_{c}"] for c in PAGE_COLUMNS) + probe["bloom"] + probe["chunk_id"]
    mix = ing.counts["codec_mix"]
    m = {
        "ingest.wall_s": wall,
        "ingest.scan_s": scan,
        "ingest.shuffle_s": shuffle,
        "ingest.kernel_s": kernel,
        "ingest.sink_s": sink,
        "ingest.layer_sum_gap": _reconcile("ingest", scan + shuffle + kernel + sink, wall),
        "ingest.kernel_share": kernel / wall,
        "ingest.codec_share": codec_s / (spark.sparkContext.defaultParallelism * wall),
        "encode.arrow_transfer_s": transfer,
        "encode.chunk_id_s": probe["chunk_id"],
        "codecs.select_s": probe["select"],
        "codecs.block_s": probe["block"],
        "bloom.build_s": probe["bloom"],
        "encode.chunks": ing.counts["chunks"],
        "codecs.nonraw_frac": 1 - mix.get("raw", 0) / sum(mix.values()),
    }
    for c in PAGE_COLUMNS:
        m[f"codecs.encode_s.{c}"] = probe[f"encode_{c}"]
        m[f"codecs.ratio.{c}"] = ing.counts["bytes_in"][c] / ing.counts["bytes_out"][c]
    return m, problems


def scan_layers(tracer: Tracer, scan: Scan) -> tuple[dict, list[str]]:
    """IMPORT split into sink read -> decode kernel -> consumer, and the
    codec stages of decode."""
    spark = scan.spark
    problems: list[str] = []
    wall = _wall(tracer, "scan.wall", lambda: problems.extend(scan.check(scan.run(0, tracer), 0)))
    read = _wall(
        tracer, "plans.lineage.read_encoded_colocated>noop",
        lambda: _noop(read_encoded_colocated(spark, scan.sink)),
    )
    enc = read_encoded_colocated(spark, scan.sink).cache()
    enc.count()
    decode = _wall(
        tracer, "operators.encode.decode_chunks_colocated(cached)>noop",
        lambda: _noop(decode_chunks_colocated(enc)),
    )
    dec = decode_chunks_colocated(enc).cache()
    dec.count()
    consume = _wall(
        tracer, "scan.fingerprint(cached)", lambda: problems.extend(scan.check(fingerprint(dec), 0))
    )
    with tracer.span("codecs.decode_probe"):
        probe = _sums(read_encoded_colocated(spark, scan.sink).mapInArrow(_decode_probe, _DECODE_PROBE_DDL))
    dec.unpersist()
    enc.unpersist()
    # read_encoded_colocated raises the session's file-split size for good;
    # later stages of the study must read with the engine's default
    spark.conf.unset("spark.sql.files.maxPartitionBytes")
    if probe["bad_crc"]:
        problems.append(f"{probe['bad_crc']} decoded column chunks failed their CRC")
    m = {
        "scan.wall_s": wall,
        "scan.read_s": read,
        "scan.decode_s": decode,
        "scan.consume_s": consume,
        "scan.layer_sum_gap": _reconcile("scan", read + decode + consume, wall),
        "scan.decode_share": decode / wall,
        # the frame unpack runs inside decode_array
        "scan.codec_share": (sum(probe[f"decode_{c}"] for c in PAGE_COLUMNS) + probe["crc"])
        / (spark.sparkContext.defaultParallelism * wall),
        "codecs.unpack_s": probe["unpack"],
        "codecs.verify_crc_s": probe["crc"],
    }
    for c in PAGE_COLUMNS:
        m[f"codecs.decode_s.{c}"] = probe[f"decode_{c}"]
    return m, problems


def lookup_layers(tracer: Tracer, lk: Lookup) -> tuple[dict, list[str]]:
    """Per point read: the pruning probe alone, the whole read, the Spark
    jobs it ran, and the share of chunks pruning kept."""
    spark = lk.spark
    sc = spark.sparkContext
    problems: list[str] = []
    total = lk.counts["chunks"]
    url_stats = read_encoded(spark, lk.sink).filter(F.col("column") == "url").select("chunk_id", "stats")
    acc = {k: {"probe": [], "rest": [], "jobs": [], "kept": []} for k in ("bloom", "range")}
    for k in range(len(lk.keys)):
        for kind in ("bloom", "range"):
            with tracer.span(f"lookup.{kind}.probe") as probe:
                if kind == "bloom":
                    kept = bloom_candidate_chunks(url_stats, "url", [lk.keys[k]], spark).count()
                else:
                    kept = url_stats.filter(cluster_ranges_keep_predicate([lk.ranges[k]])).count()
            group = f"perfbench-lookup-{kind}-{k}"
            sc.setJobGroup(group, f"perfbench {kind} lookup")
            with tracer.span(f"lookup.{kind}.wall") as wall:
                out = lk.bloom(k, tracer) if kind == "bloom" else lk.range(k, tracer)
            sc.setLocalProperty("spark.jobGroup.id", None)
            problems += lk.check_bloom(k, out) if kind == "bloom" else lk.check_range(k, out)
            a = acc[kind]
            a["probe"].append(probe.seconds)
            a["rest"].append(wall.seconds - probe.seconds)
            a["jobs"].append(len(sc.statusTracker().getJobIdsForGroup(group)))
            a["kept"].append(kept)
    m: dict[str, float] = {}
    for kind, a in acc.items():
        n = len(a["kept"])
        m[f"lookup.{kind}.probe_s"] = statistics.median(a["probe"])
        m[f"lookup.{kind}.decode_s"] = statistics.median(a["rest"])
        m[f"lookup.{kind}.spark_jobs"] = sum(a["jobs"]) / n
        m[f"lookup.{kind}.chunks_kept_frac"] = sum(a["kept"]) / (n * total)
    # each url is in exactly one chunk, which pruning always keeps: every
    # other kept chunk is a false positive of the Bloom filters
    kept = acc["bloom"]["kept"]
    m["lookup.bloom.precision"] = len(kept) / sum(kept)
    return m, problems


def dedup_layers(tracer: Tracer, dd: Dedup) -> tuple[dict, list[str]]:
    """Dedup split into its three stages, each materialised by
    ``localCheckpoint``, and the quality of the candidate pairs."""
    problems: list[str] = []
    with tracer.span("operators.dedup.minhash_signatures>checkpoint") as sig_s:
        sig = minhash_signatures(dd.corpus).localCheckpoint()
    with tracer.span("operators.dedup.lsh_band_pairs>checkpoint") as pairs_s:
        pairs = lsh_band_pairs(sig).localCheckpoint()
    stats: dict = {}
    with tracer.span("operators.dedup.duplicate_clusters_star>checkpoint") as cc_s:
        clusters = duplicate_clusters_star(pairs, stats=stats).localCheckpoint()
    together, dedup_problems = dd.check(pairs, clusters, stats)
    problems += dedup_problems
    candidates = pairs.count()
    found = pairs.join(
        dd.planted, (F.col("doc_a") == F.col("a")) & (F.col("doc_b") == F.col("b"))
    ).count()
    return {
        "dedup.signatures_s": sig_s.seconds,
        "dedup.pairs_s": pairs_s.seconds,
        "dedup.cc_s": cc_s.seconds,
        "dedup.candidate_pairs": candidates,
        "dedup.pair_precision": found / candidates if candidates else 0.0,
        "dedup.recall": found / dd.n_planted,
        "dedup.planted_together_frac": together / dd.n_planted,
        "dedup.cc_alternations": stats["alternations"],
    }, problems
