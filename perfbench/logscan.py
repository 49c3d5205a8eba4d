"""``logscan``: the paper's own workload, multi-line day-files read as
``(path, offset, record)``, plain and gzipped.

Per round, six jobs over a seeded ``testing.loggen`` corpus: count by
level over ``*.log`` and over ``*.log.gz``, stack-frame hotspots, a
path-pruned count of one file, a 1 % sample written to a fresh dir, and
an ``availableNow`` catch-up of ``logfile-stream`` over ``*.log``.  The
Python scanner, gzip decoding and the Arrow hand-off do most of the
work; every output is checked against the generator's golden counts.
"""

from __future__ import annotations

import gzip
import os
import re
import time
from collections import Counter

from hadoop_logfile_inputformat_spark.testing.loggen import (
    FORMAT_A,
    FORMAT_B,
    replay_log_corpus_records,
    summarize_log_corpus,
    write_log_corpus,
)
from harness import collect_df, median

N_FILES = 8
#: simulated seconds per day-file at one record per 5 ms: 9,000 records
#: and about 0.83 MB per file, so the corpus is about 6.6 MB and 72,000
#: records, decompressed
SECONDS_PER_FILE = 45.0
SAMPLE_FRACTION = 0.01
KINDS = (
    "count_by_level_plain",
    "count_by_level_gz",
    "stack_hotspots",
    "pruned_count",
    "sample_write",
    "stream_catchup",
)
_SAMPLE_HEADER = re.compile(r"^(.*)@(\d{16}):$", re.M)


class Logscan:
    name = "logscan"
    cold_kinds = KINDS
    warm_kinds = KINDS
    warm_rounds = 1

    def __init__(self, work_dir: str, seed: int, tracer):
        self.work_dir = work_dir
        self.seed = seed
        self.tracer = tracer
        self.spark = None
        self.formats: dict = {}

    # ------------------------------------------------------------ inputs

    def prepare(self) -> None:
        """Write the seeded corpus (``.log`` plus byte-identical
        ``.log.gz`` twins) into a fresh directory."""
        self.corpus = os.path.join(self.work_dir, "corpus")
        _, path_formats, paths = write_log_corpus(
            self.corpus, n_files=N_FILES, seconds_per_file=SECONDS_PER_FILE,
            seed=self.seed,
        )
        self.formats = {os.path.basename(p): f for p, f in path_formats.items()}
        self.plain = sorted(p for p in paths if p.endswith(".log"))

    def verify_inputs(self) -> dict:
        """Golden counts, recomputed by replaying the generator without
        reading the files."""
        kw = dict(n_files=N_FILES, seconds_per_file=SECONDS_PER_FILE, seed=self.seed)
        golden = summarize_log_corpus(**kw)
        self.golden = dict(golden.by_level)
        self.golden_total = golden.total
        replay = replay_log_corpus_records(**kw)
        self.per_file = Counter(name for name, _, _ in replay)
        self.offsets = {(name, off) for name, off, _ in replay}
        self.mb = sum(os.path.getsize(p) for p in self.plain) / 1e6
        self.pruned = self.plain[self.seed % N_FILES]
        return {"input_mb": round(self.mb, 3), "records": self.golden_total,
                "files": N_FILES, "gz_twins": True}

    # ------------------------------------------------------------ jobs

    def _patterns(self) -> dict:
        return {name: FORMAT_A if f == "A" else FORMAT_B for name, f in self.formats.items()}

    def _read(self, glob: str):
        reader = self.spark.read.format("logfile")
        for name, pat in self._patterns().items():
            reader = reader.option(f"pattern.{name}", pat)
        return reader.load(os.path.join(self.corpus, glob))

    def _count_by_level(self, glob: str):
        from hadoop_logfile_inputformat_spark.functions.logparse import parse_log_records

        def build():
            with self.tracer.span("sources.logfile.load"):
                df = self._read(glob)
            with self.tracer.span("functions.logparse.parse_log_records"):
                return parse_log_records(df).groupBy("level").count()

        return {r["level"]: r["count"] for r in collect_df(self.tracer, "build", build)}

    def _hotspots(self):
        from hadoop_logfile_inputformat_spark.functions.logparse import parse_log_records
        from hadoop_logfile_inputformat_spark.functions.udtfs import stack_frame_hotspots

        def build():
            with self.tracer.span("sources.logfile.load"):
                df = self._read("*.log")
            with self.tracer.span("functions.logparse.parse_log_records"):
                errors = parse_log_records(df).filter("level = 'ERROR'")
            with self.tracer.span("functions.udtfs.stack_frame_hotspots"):
                return stack_frame_hotspots(self.spark, errors)

        return collect_df(self.tracer, "build", build)

    def _pruned_count(self):
        from pyspark.sql import functions as F

        def build():
            with self.tracer.span("sources.logfile.load"):
                df = self._read("*.log")
            return df.filter(F.col("path") == self.pruned).groupBy().count()

        return collect_df(self.tracer, "build", build)[0][0]

    def _sample(self, rnd: int) -> str:
        from hadoop_logfile_inputformat_spark.operators.logparity import sample_logs

        out = os.path.join(self.work_dir, f"sample{rnd}")
        with self.tracer.span("operators.logparity.sample_logs"):
            sample_logs(
                self.spark, os.path.join(self.corpus, "*.log"), out, FORMAT_A,
                fraction=SAMPLE_FRACTION, seed=rnd, per_path_patterns=self._patterns(),
            )
        return out

    def _stream(self, rnd: int, **options):
        from hadoop_logfile_inputformat_spark.functions.logparse import parse_log_records
        from hadoop_logfile_inputformat_spark.streaming.logfile_stream import (
            register_logfile_stream_source,
        )

        with self.tracer.span("streaming.logfile_stream.catchup"):
            register_logfile_stream_source(self.spark)
            reader = self.spark.readStream.format("logfile-stream").options(**options)
            for name, pat in self._patterns().items():
                reader = reader.option(f"pattern.{name}", pat)
            stream = reader.load(os.path.join(self.corpus, "*.log"))
            table = f"logscan_stream_{rnd}"
            query = (
                parse_log_records(stream).select("level").writeStream
                .format("memory").queryName(table)
                .option("checkpointLocation", os.path.join(self.work_dir, f"ckpt{rnd}"))
                .trigger(availableNow=True).start()
            )
            query.awaitTermination()
        self.stream_batches = len(query.recentProgress)
        return table

    # ------------------------------------------------------------ checks

    def _check_levels(self, got: dict):
        want = self.golden
        if got != want:
            return f"counts {got} != golden {want}"
        return None

    def _check_hotspots(self, rows):
        n_err = self.golden["ERROR"]
        if len(rows) != 8:
            return f"{len(rows)} hotspot frames, want 8"
        bad = [r for r in rows if r["n_frames"] != n_err]
        return f"n_frames != {n_err} for {bad[:2]}" if bad else None

    def _check_pruned(self, n):
        want = self.per_file[os.path.basename(self.pruned)]
        return None if n == want else f"pruned count {n} != {want}"

    def _check_sample(self, out: str):
        parts = [f for f in os.listdir(out) if f.startswith("part-")]
        text = "".join(open(os.path.join(out, f), encoding="utf-8").read() for f in parts)
        keys = [(os.path.basename(p), int(o)) for p, o in _SAMPLE_HEADER.findall(text)]
        if not keys:
            return "sample is empty"
        stray = [k for k in keys if k not in self.offsets]
        return f"{len(stray)} sampled records not in the corpus" if stray else None

    def _check_stream(self, table: str):
        rows = self.spark.table(table).groupBy("level").count().collect()
        self.spark.sql(f"DROP VIEW IF EXISTS {table}")
        return self._check_levels({r["level"]: r["count"] for r in rows})

    # ------------------------------------------------------------ rounds

    def round(self, ops, rnd: int) -> None:
        ops.run("count_by_level_plain", lambda: self._count_by_level("*.log"), self._check_levels)
        ops.run("count_by_level_gz", lambda: self._count_by_level("*.log.gz"), self._check_levels)
        ops.run("stack_hotspots", self._hotspots, self._check_hotspots)
        ops.run("pruned_count", self._pruned_count, self._check_pruned)
        ops.run("sample_write", lambda: self._sample(rnd), self._check_sample)
        # the day-files are closed, so a tail is final the moment it is
        # seen; ``StreamDefault`` runs the catch-up with the default
        # options, under which it comes out short
        ops.run("stream_catchup", lambda: self._stream(rnd, tailStableBatches=0),
                self._check_stream)

    def finish(self, ops) -> None:
        pass

    def report(self, ops) -> list:
        """The workload's named end-to-end figures, as
        ``(name, value, unit, samples)``."""
        warm_jobs = [x for k in KINDS for x in ops.warm(k)]
        rounds = min(len(ops.warm(k)) for k in KINDS)
        # decompressed MB a round scans: the pruned count reads one file,
        # the five other jobs the whole corpus
        round_mb = self.mb * 5 + self.mb / N_FILES
        return [
            ("logscan.mb_s", round_mb * rounds / sum(warm_jobs) if rounds else 0.0,
             "MB/s", rounds),
            ("logscan.job_p50_s", median(warm_jobs), "s", len(warm_jobs)),
            ("logscan.cold_job_s", ops.first("count_by_level_plain"), "s", 1),
        ]

    # ------------------------------------------------------------ layers

    def layer_report(self, ops, tracer) -> dict:
        """Traced run only: the logfile rows of the per-layer table, from
        the job medians of the rounds."""
        return {
            f"{layer}_s": median(ops.warm(kind)) for layer, kind in (
                ("logparse.count_by_level_plain", "count_by_level_plain"),
                ("logparse.count_by_level_gz", "count_by_level_gz"),
                ("udtfs.hotspots", "stack_hotspots"),
                ("source.pruned_count", "pruned_count"),
                ("logparity.sample_write", "sample_write"),
                ("stream.catchup", "stream_catchup"),
            )
        }

    def probe_layers(self, ops) -> dict:
        """Traced run only: the source layer on its own: split planning
        without Spark, a raw count, and the count of a one-record file,
        which is the fixed cost of a job."""
        from hadoop_logfile_inputformat_spark.sources.logfile import LogfileReader

        out = {"stream.batches": self.stream_batches}
        opts = {"path": os.path.join(self.corpus, "*.log")}
        opts.update({f"pattern.{k}": v for k, v in self._patterns().items()})
        t0 = time.perf_counter()
        parts = LogfileReader(None, opts).partitions()
        out["source.plan_s"] = time.perf_counter() - t0
        out["source.partitions"] = len(parts)
        one = os.path.join(self.work_dir, "one.log")
        with open(one, "w") as f:
            f.write("2024-01-01 00:00:00,000 | INFO | c | one record\n")
        reader = self.spark.read.format("logfile").option("pattern", FORMAT_A)
        ops.run("source_count", lambda: self._read("*.log").count(),
                lambda n: None if n == self.golden_total else f"count {n}")
        ops.run("source_one_record", lambda: reader.load(one).count(),
                lambda n: None if n == 1 else f"count {n}")
        out["source.count_s"] = ops.first("source_count")
        out["source.job_overhead_s"] = ops.first("source_one_record")
        return out


class StreamDefault(Logscan):
    """``stream_default``: the ``availableNow`` catch-up of ``logscan``
    with the stream's default options, checked against the same golden
    counts.

    Known to fail on the current code.  With the default
    ``tailStableBatches`` of 2, a file's last record is emitted only
    once its size has stayed the same over two polls.  An
    ``availableNow`` query plans its end offsets from one poll, so the
    last record of every day-file is held back and the counts come out
    one record short per file.  The regression gate leaves this workload
    out, since every run of it fails; running every workload, or this
    one, exits non-zero until the source emits those records.
    """

    name = "stream_default"
    cold_kinds = warm_kinds = ("stream_catchup_default",)

    def round(self, ops, rnd: int) -> None:
        ops.run("stream_catchup_default", lambda: self._stream(rnd), self._check_stream)

    def report(self, ops) -> list:
        warm = ops.warm("stream_catchup_default")
        return [("stream_default.catchup_p50_s", median(warm), "s", len(warm))]

    def layer_report(self, ops, tracer) -> dict:
        return {}

    def probe_layers(self, ops) -> dict:
        return {"stream.batches": self.stream_batches}


def core_scan_rates(work_dir: str, seed: int) -> dict:
    """One-process scanner rates, no Spark, on one seeded day-file and
    its gzip twin: the single-threaded baseline for the Spark scan."""
    from hadoop_logfile_inputformat_spark.sources.logfile import (
        iter_record_lists_chunked,
        scan_partition_arrow,
    )

    summary, formats, paths = write_log_corpus(
        os.path.join(work_dir, "core"), n_files=1,
        seconds_per_file=SECONDS_PER_FILE, seed=seed,
    )
    plain = paths[0]
    pattern = FORMAT_A if formats[plain] == "A" else FORMAT_B
    size = os.path.getsize(plain)
    mb = size / 1e6
    out = {}
    for key, path, opener, end in (
        ("source.scan_mb_s_core", plain, open, size),
        ("source.gz_scan_mb_s_core", plain + ".gz", gzip.open, -1),
    ):
        t0 = time.perf_counter()
        with opener(path, "rb") as f:
            n = sum(len(offs) for offs, _ in iter_record_lists_chunked(
                f, start=0, end=end, pattern=pattern))
        out[key] = mb / (time.perf_counter() - t0)
        if n != summary.total:
            raise RuntimeError(f"{key}: {n} records, want {summary.total}")
    t0 = time.perf_counter()
    n = sum(b.num_rows for b in scan_partition_arrow(plain, 0, size, pattern))
    out["source.arrow_mb_s_core"] = mb / (time.perf_counter() - t0)
    if n != summary.total:
        raise RuntimeError(f"arrow scan: {n} records, want {summary.total}")
    return out
