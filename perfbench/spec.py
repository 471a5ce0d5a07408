"""What the benchmark prints, and what each figure is for.

``BENCHMARK.json`` is the one record of the workloads and of the names,
units, directions and bounds of the metrics; this module reads it, and adds
what that file has no place for: for every per-layer metric, the end-to-end
metric and workload it should move, the bypasses expected of a change to one
layer, and the seeds.

Both workloads print every end-to-end metric; ``mb_per_s`` is the logical
size of the pages (``pages_input_bytes``) over the median operation, so on
``ingest`` it is the encode throughput and on ``scan`` the decode
throughput (the operation times themselves go to standard error). Both
workloads write or read a sink made with the same settings, so
``stored_bytes_per_input_byte`` (sink bytes on disk over logical input
bytes) is defined for both; it is deterministic for a seed, hence its tight
bound. ``failed_frac`` is ``failed / attempted`` of the result line (it is 0
when all is well, so it is not a metric of its own).

At the benchmark's input size (~50 MB of pages) an operation is mostly fixed
per-job cost and the Arrow transfer into the Python kernels: on a 4-core box
the codec stages take 8-12% of the ``ingest`` wall and the decode codecs
3-5% of the ``scan`` wall (``ingest.codec_share`` and ``scan.codec_share``
of a traced run), while the kernels' walls are 55-65% of them, most of it
the pass-through floor (``encode.arrow_transfer_s``). A codec-only change
therefore shows in the ``codecs.*`` worker seconds and moves ``mb_per_s`` by
about its share of the wall times its speed-up: a 2x faster codec by ~5%,
within the bound of ``mb_per_s``.

Point lookups and dedup have no end-to-end workload, only their layers in
every traced run (``lookup.*``, ``dedup.*``). On a 4-core box one lookup pair
is 2-4 s and one dedup pass 5-7 s, almost all fixed Spark job overhead, and
every run pays ~25 s of JVM start and cold set-up. The benchmark's budget is
22 runs per workload within 3420 s, which two workloads with a 20 s loop fit and
four did not (measured: 37-57 s per 10 s run); and their timings spread
20-35% from run to run, up to beyond the largest bound allowed (0.25).
"""

from __future__ import annotations

import json
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    _BENCH = json.load(_f)

WORKLOADS = [w["name"] for w in _BENCH["workloads"]]
# name -> unit, for the metrics a run prints with --trace 0 and --trace 1
END_TO_END = {m["name"]: m["unit"] for m in _BENCH["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _BENCH["per_layer"]}

PAGE_COLUMNS = ["url", "warc_ts", "html", "text", "lang"]

_ENC = "mb_per_s on ingest"
_DEC = "mb_per_s on scan"
_LK = "no end-to-end workload: the lookup.* layers of the traced run"
_DD = "no end-to-end workload: the dedup.* layers of the traced run"

# per-layer metric -> the end-to-end metric and workload it should move
MOVES = {
    **{f"ingest.{k}": _ENC for k in (
        "wall_s", "scan_s", "shuffle_s", "kernel_s", "sink_s",
        "layer_sum_gap", "kernel_share", "codec_share",
    )},
    "encode.arrow_transfer_s": _ENC,
    "encode.chunk_id_s": _ENC,
    **{f"codecs.encode_s.{c}": _ENC for c in PAGE_COLUMNS},
    "codecs.select_s": _ENC,
    "codecs.block_s": _ENC,
    "bloom.build_s": _ENC,
    "encode.chunks": _ENC,
    "codecs.nonraw_frac": _ENC + " and stored_bytes_per_input_byte",
    **{f"codecs.ratio.{c}": _ENC + " and stored_bytes_per_input_byte" for c in PAGE_COLUMNS},
    **{f"scan.{k}": _DEC for k in (
        "wall_s", "read_s", "decode_s", "consume_s",
        "layer_sum_gap", "decode_share", "codec_share",
    )},
    **{f"codecs.decode_s.{c}": _DEC for c in PAGE_COLUMNS},
    "codecs.unpack_s": _DEC,
    "codecs.verify_crc_s": _DEC + " (and the lookup.* decode times)",
    **{f"lookup.{kind}.{k}": _LK for kind in ("bloom", "range")
       for k in ("probe_s", "decode_s", "spark_jobs", "chunks_kept_frac")},
    "lookup.bloom.precision": _LK,
    **{f"dedup.{k}": _DD for k in (
        "signatures_s", "pairs_s", "cc_s", "candidate_pairs",
        "pair_precision", "recall", "planted_together_frac", "cc_alternations",
    )},
    "jvm.gc_s": "peak_rss_mb and mb_per_s on both workloads (the driver heap is capped)",
    "jvm.heap_peak_mb": "peak_rss_mb on both workloads",
    "trace.overhead_ratio": "every end-to-end metric of the traced workload",
    "trace.spans": "none: the size of the span record",
}

# What a change to one layer should leave flat (the prediction on the
# bypassing workloads is "no change").
BYPASSES = [
    "a block-stage (zstd) or chunk-id change moves ingest; scan, lookup.* and dedup.* stay flat",
    "a CRC-on-decode change moves scan and lookup.*; ingest stays flat",
    "a pruning or job-count change moves only the lookup.* layers",
    "a minhash kernel change moves only the dedup.* layers; ingest, scan and lookup stay flat",
]

# the seed tuning uses, and a second seed a claimed gain must also hold on
SEEDS = {"tuning": 1, "holdout": 7}
