"""Benchmark child processes: ``prep`` builds the inputs, ``run`` drives Spark.

Run by ``perfbench/run.py``, never by hand:

    python3 perfbench/worker.py prep --workload W --seed N --dir INPUT_DIR
    python3 perfbench/worker.py run --workload W --seconds S --trace 0|1 \
        --input INPUT_DIR --dir RUN_DIR

``prep`` writes the seeded transcripts as parquet part files plus the
oracle's verdict digests (``oracle.json``) and the rule survivors' texts
(``survivors.parquet``) into INPUT_DIR, atomically, so run.py can cache
them per (workload, seed) and neither generation nor the oracle is ever
timed.

``run`` starts one Spark session at ``local[$SPARK_GRAFT_CPUS]``, measures
the workload through the public API (``pipeline.run_pipeline`` or
``lineage.run_with_lineage``), checks every measured operation against
the oracle digests and writes ``result.json`` and ``spans.json`` into
RUN_DIR. ``spark.stop()`` runs in a ``finally``, also on SIGTERM.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import sys
import time
from pathlib import Path

import gen
import tracing

# workload -> (generator mix, turns per input, operations after the cold
# one that are discarded, steady operations taken even when --seconds runs
# out first). Filter passes keep speeding up through about the sixth pass
# (JIT), so the filter workloads discard four.
WORKLOADS = {
    "mixed_filter": ("mixed", 20_000, 4, 3),
    "reject_heavy": ("reject", 24_000, 4, 3),
    "commit_resume": ("mixed", 10_000, 2, 3),
}
PART_FILES = 8
REBUILDS = 2  # warm session re-creations after the cold setup
LINEAGE_GROUPS = 2  # commit groups; the kill-run commits half of them
KERNEL_BATCH = 10_000  # = spark.sql.execution.arrow.maxRecordsPerBatch
RULE_REASONS = frozenset(
    ("length", "conv_stats", "word_stats", "stopword_ratio", "repetition", "symbol_ratio")
)
NUL = "\x00"
SEP = "\x1f"


# --------------------------------------------------------------------------
# order-independent verdict digest, computed identically by the oracle side
# (Python) and the Spark side (Column expressions)
# --------------------------------------------------------------------------

def _row_key(conv_id, turn_idx, keep, reason, scrubbed, lang, bucket) -> str:
    return SEP.join(
        (
            conv_id,
            str(turn_idx),
            "1" if keep else "0",
            NUL if reason is None else reason,
            NUL if scrubbed is None else scrubbed,
            NUL if lang is None else lang,
            NUL if bucket is None else str(bucket),
        )
    )


def _digest_rows(keys) -> list[int]:
    n = sa = sb = 0
    for k in keys:
        h = hashlib.md5(k.encode("utf-8")).hexdigest()
        n += 1
        sa += int(h[:10], 16)
        sb += int(h[10:20], 16)
    return [n, sa, sb]


def spark_digest(df, kept_only: bool = False) -> list[int]:
    """[rows, sum of md5 bits 0-39, sum of md5 bits 40-79] over the verdict
    rows of ``df``. With ``kept_only`` the frame is a committed kept set,
    which has no keep/reject_reason columns."""
    from pyspark.sql import functions as F

    def nul(c):
        return F.coalesce(c, F.lit(NUL))

    key = F.concat_ws(
        SEP,
        F.col("conv_id"),
        F.col("turn_idx").cast("string"),
        F.lit("1") if kept_only else F.when(F.col("keep"), "1").otherwise("0"),
        F.lit(NUL) if kept_only else nul(F.col("reject_reason")),
        nul(F.col("scrubbed_text")),
        nul(F.col("lang")),
        nul(F.col("ppl_bucket").cast("string")),
    )
    h = F.md5(key)
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.conv(F.substring(h, 1, 10), 16, 10).cast("long")).alias("a"),
        F.sum(F.conv(F.substring(h, 11, 10), 16, 10).cast("long")).alias("b"),
    ).collect()[0]
    return [int(row["n"]), int(row["a"] or 0), int(row["b"] or 0)]


# --------------------------------------------------------------------------
# prep
# --------------------------------------------------------------------------

def prep(workload: str, seed: int, out_dir: Path) -> None:
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from fineweb_legal_spark.oracle import oracle_verdicts

    mix, n_turns, _, _ = WORKLOADS[workload]
    tmp = out_dir.with_name(out_dir.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    (tmp / "data").mkdir(parents=True)
    table = gen.generate(mix, n_turns, seed)
    step = -(-n_turns // PART_FILES)
    for i in range(PART_FILES):
        pq.write_table(
            table.slice(i * step, step), tmp / "data" / f"part-{i:03d}.parquet"
        )

    pdf = table.to_pandas()
    pdf["text"] = pdf["text"].astype(object).where(pdf["text"].notna(), None)
    ov = oracle_verdicts(pdf)

    def opt(v):
        return None if v is None or v is pd.NA else v

    rows = list(
        zip(
            ov["conv_id"], ov["turn_idx"], ov["keep"], ov["reject_reason"],
            ov["scrubbed_text"], ov["lang"], ov["ppl_bucket"],
        )
    )
    full = _digest_rows(
        _row_key(c, int(t), bool(k), opt(r), opt(s), opt(lg), opt(b))
        for c, t, k, r, s, lg, b in rows
    )
    kept = _digest_rows(
        _row_key(c, int(t), True, None, opt(s), opt(lg), opt(b))
        for c, t, k, r, s, lg, b in rows
        if k
    )
    reasons = ov["reject_reason"].fillna("kept").value_counts().to_dict()
    # the oracle returns rows in (conv_id, turn_idx) order
    survivors = ~ov["reject_reason"].isin(list(RULE_REASONS)).to_numpy()
    texts = pdf.sort_values(["conv_id", "turn_idx"], kind="mergesort")["text"]
    pq.write_table(
        pa.table({"text": pa.array(texts.to_numpy()[survivors], pa.string())}),
        tmp / "survivors.parquet",
    )
    (tmp / "oracle.json").write_text(
        json.dumps(
            {
                "workload": workload,
                "seed": seed,
                "turns": n_turns,
                "digest": full,
                "kept_digest": kept,
                "reasons": {k: int(v) for k, v in reasons.items()},
            }
        )
    )
    shutil.rmtree(out_dir, ignore_errors=True)
    os.replace(tmp, out_dir)


# --------------------------------------------------------------------------
# run
# --------------------------------------------------------------------------

def _sigterm(signum, frame):  # noqa: ARG001
    raise SystemExit(128 + signum)


class Session:
    """The Spark session, built once cold and then ``REBUILDS`` more times.

    setup_s is the cold build as a user pays it: JVM launch, the first
    ``get_spark`` and the artifact build. pyspark launches one JVM per
    process, and relaunching it costs as much as the cold build, so the
    run cannot afford several cold builds; the median is taken across
    runs instead. The rebuilds stop and re-create the SparkContext on the
    running JVM and time ``get_spark`` + ``build_artifacts`` again
    (``session.rebuild_s``), which shows work moved into either function.
    The JVM launch is timed by wrapping pyspark's ``launch_gateway``."""

    def __init__(self, tracer: tracing.Tracer, extra_conf: dict[str, str]):
        import pyspark.core.context as ctx

        from fineweb_legal_spark.artifacts import build_artifacts
        from fineweb_legal_spark.session import get_spark

        real_launch = ctx.launch_gateway
        launch: list[float] = []

        def timed_launch(*a, **kw):
            t0 = time.perf_counter()
            try:
                return real_launch(*a, **kw)
            finally:
                launch.append(time.perf_counter() - t0)

        ctx.launch_gateway = timed_launch
        try:
            builds = []
            for i in range(1 + REBUILDS):
                if i:
                    self.spark.stop()
                with tracer.span("setup" if i == 0 else "session.rebuild") as sp:
                    self.spark = get_spark(app_name="perfbench", extra_conf=extra_conf)
                    build_artifacts()
                builds.append(sp.duration)
        finally:
            ctx.launch_gateway = real_launch
        self.setup_s = builds[0]
        self.launch_s = launch[0]
        self.rebuild_s = statistics.median(builds[1:])


def _job_group(spark, name: str) -> None:
    spark.sparkContext.setJobGroup(name, name)


def _filter_pass(spark, input_dir: Path) -> list[int]:
    from fineweb_legal_spark.pipeline import run_pipeline

    verdicts = run_pipeline(spark, spark.read.parquet(str(input_dir)))
    try:
        return spark_digest(verdicts)
    finally:
        for p in verdicts._fineweb_persisted:  # noqa: SLF001 -- documented hook
            p.unpersist()


def _dir_stats(root: Path) -> tuple[int, int]:
    files = [p for p in root.rglob("*.parquet") if p.is_file()]
    return len(files), sum(p.stat().st_size for p in files)


def _commit_cycle(spark, input_dir: Path, out: Path, tracer, sample: dict) -> bool:
    """Kill-run (half the commit groups) then resume into a fresh directory.
    Returns whether the committed result is exactly the oracle's."""
    from fineweb_legal_spark import lineage, spec

    shutil.rmtree(out, ignore_errors=True)
    with tracer.span("lineage.kill_run") as kill:
        lineage.run_with_lineage(
            spark, spark.read.parquet(str(input_dir)), out,
            n_groups=LINEAGE_GROUPS, max_groups=LINEAGE_GROUPS // 2,
        )
    with tracer.span("lineage.resume") as resume:
        lineage.run_with_lineage(
            spark, spark.read.parquet(str(input_dir)), out, n_groups=LINEAGE_GROUPS
        )
    sample["kill_run_s"] = kill.duration
    sample["resume_s"] = resume.duration
    sample["seconds"] = kill.duration + resume.duration
    done = lineage.committed_buckets(out)
    sample["buckets_committed"] = len(done)
    sample["files_written"], sample["bytes_written"] = _dir_stats(out)
    committed = lineage.read_committed_output(spark, out)
    sample["digest"] = spark_digest(committed, kept_only=True) if committed else [0, 0, 0]
    return done == set(range(spec.LINEAGE_BUCKETS))


def _lineage_metrics(samples: list[dict]) -> dict[str, float]:
    """Commit-layer metrics: medians over the steady cycles, or the one
    traced cycle of mixed_filter; 0 where no cycle ran."""
    cycles = [s for s in samples if "kill_run_s" in s]
    steady = [s for s in cycles if s["phase"] == "steady"] or cycles
    if not steady:
        return dict.fromkeys(
            ("lineage.kill_run_s", "lineage.resume_s", "lineage.bytes_written",
             "lineage.files_written", "lineage.buckets_committed"), 0)
    return {
        "lineage.kill_run_s": statistics.median(s["kill_run_s"] for s in steady),
        "lineage.resume_s": statistics.median(s["resume_s"] for s in steady),
        "lineage.bytes_written": steady[-1]["bytes_written"],
        "lineage.files_written": steady[-1]["files_written"],
        "lineage.buckets_committed": steady[-1]["buckets_committed"],
    }


def _layer_times(spark, input_dir: Path, tracer, reps: int = 3) -> dict[str, float]:
    """Traced run only: noop-sink executions of each layer's public
    function on its own (one discarded warm-up, then the median)."""
    from fineweb_legal_spark import pipeline

    def scan():
        return spark.read.parquet(str(input_dir))

    layers = {
        "source.scan_s": scan,
        "pipeline.heuristic_features_s": lambda: pipeline.heuristic_features(
            scan().select("conv_id", "turn_idx", "text")
        ),
        "pipeline.conversation_stats_s": lambda: pipeline.conversation_stats(scan()),
    }
    out = {}
    for name, build in layers.items():
        times = []
        for i in range(reps + 1):
            _job_group(spark, f"layer:{name}")
            with tracer.span(name) as sp:
                build().write.format("noop").mode("overwrite").save()
            if i:
                times.append(sp.duration)
        out[name] = statistics.median(times)
    return out


def _stage_counts(spark, input_dir: Path, tracer) -> dict[str, float]:
    from fineweb_legal_spark.pipeline import run_pipeline, stage_metrics

    _job_group(spark, "layer:stage_counts")
    with tracer.span("pipeline.stage_counts"):
        verdicts = run_pipeline(spark, spark.read.parquet(str(input_dir)))
        rows = stage_metrics(verdicts).collect()
        for p in verdicts._fineweb_persisted:  # noqa: SLF001
            p.unpersist()
    c = {r["stage"]: int(r["turns"]) for r in rows}
    rules = sum(v for k, v in c.items() if k in RULE_REASONS)
    lang, ppl = c.get("lang", 0), c.get("perplexity", 0)
    kept, dups = c.get("kept", 0), c.get("duplicate", 0)
    scored = kept + dups + lang + ppl
    candidates = kept + dups
    return {
        "pipeline.rules_rejected": rules,
        "model.scored": scored,
        "model.lang_rejected": lang,
        "model.ppl_rejected": ppl,
        "dedup.candidates": candidates,
        "dedup.duplicates": dups,
        "dedup.useful_frac": kept / candidates if candidates else 0.0,
    }


def _kernel_us(input_dir: Path, tracer, reps: int = 3) -> dict[str, float]:
    """Single-thread microseconds per rule survivor for the model-stage
    kernels, on this workload's survivors, in Arrow-batch-sized calls."""
    import pyarrow.parquet as pq

    from fineweb_legal_spark.artifacts import get_artifacts
    from fineweb_legal_spark.scrub import scrub_text
    from fineweb_legal_spark.textstats import norm_hash

    texts = pq.read_table(input_dir / "survivors.parquet")["text"].to_pylist()
    if not texts:
        return dict.fromkeys(
            ("artifacts.predict_lang_batch_us", "artifacts.perplexity_batch_us",
             "scrub.scrub_text_us", "textstats.norm_hash_us"), 0.0)
    arts = get_artifacts()
    batches = [texts[i:i + KERNEL_BATCH] for i in range(0, len(texts), KERNEL_BATCH)]
    kernels = {
        "artifacts.predict_lang_batch_us": lambda: [arts.predict_lang_batch(b) for b in batches],
        "artifacts.perplexity_batch_us": lambda: [arts.perplexity_batch(b) for b in batches],
        "scrub.scrub_text_us": lambda: [scrub_text(t) for t in texts],
        "textstats.norm_hash_us": lambda: [norm_hash(t) for t in texts],
    }
    out = {}
    for name, fn in kernels.items():
        times = []
        for _ in range(reps):
            with tracer.span(name) as sp:
                fn()
            times.append(sp.duration)
        out[name] = statistics.median(times) / len(texts) * 1e6
    return out


def run(workload: str, seconds: float, traced: bool, input_dir: Path, run_dir: Path) -> None:
    signal.signal(signal.SIGTERM, _sigterm)
    oracle = json.loads((input_dir / "oracle.json").read_text())
    data = input_dir / "data"
    tracer = tracing.Tracer()
    extra_conf = tracing.event_log_conf(run_dir) if traced else {}
    samples: list[dict] = []
    result: dict = {"workload": workload, "turns": oracle["turns"], "traced": traced}
    try:
        with tracer.span("run"):
            session = Session(tracer, extra_conf)
            spark = session.spark
            result["setup_s"] = session.setup_s
            result["session"] = {"launch_s": session.launch_s, "rebuild_s": session.rebuild_s}
            result["versions"] = {
                "spark": spark.version,
                "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
                "python": sys.version.split()[0],
            }
            _, _, warmup, min_steady = WORKLOADS[workload]
            lineage_out = run_dir / "lineage_out"
            t_end = None
            i = 0
            while True:
                phase = "cold" if i == 0 else "warmup" if i <= warmup else "steady"
                if phase == "steady" and t_end is None:
                    t_end = time.perf_counter() + seconds
                _job_group(spark, f"{phase}:{i}")
                sample: dict = {"phase": phase}
                if workload == "commit_resume":
                    with tracer.span("cycle"):
                        complete = _commit_cycle(spark, data, lineage_out, tracer, sample)
                    sample["ok"] = complete and sample["digest"] == oracle["kept_digest"]
                else:
                    with tracer.span("pass") as sp:
                        sample["digest"] = _filter_pass(spark, data)
                    sample["seconds"] = sp.duration
                    sample["ok"] = sample["digest"] == oracle["digest"]
                samples.append(sample)
                i += 1
                steady = sum(s["phase"] == "steady" for s in samples)
                if t_end is not None and time.perf_counter() >= t_end and steady >= min_steady:
                    break
            if traced:
                layer = {}
                layer.update(_layer_times(spark, data, tracer))
                layer.update(_stage_counts(spark, data, tracer))
                layer.update(_kernel_us(input_dir, tracer))
                if workload == "mixed_filter":
                    # the commit layer on the production mix: one cold
                    # kill-run + resume, checked like a commit_resume cycle
                    _job_group(spark, "layer:lineage")
                    sample = {"phase": "layer"}
                    complete = _commit_cycle(spark, data, lineage_out, tracer, sample)
                    sample["ok"] = complete and sample["digest"] == oracle["kept_digest"]
                    samples.append(sample)
                layer.update(_lineage_metrics(samples))
                result["layers"] = layer
            result["samples"] = samples
    finally:
        from pyspark.sql import SparkSession

        active = SparkSession.getActiveSession()
        if active is not None:
            active.stop()
    if traced:
        result["spark_events"] = tracing.event_log_metrics(run_dir)
    result["spans"] = tracer.dump(run_dir / "spans.json")
    (run_dir / "result.json").write_text(json.dumps(result))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=("prep", "run"))
    ap.add_argument("--workload", required=True, choices=tuple(WORKLOADS))
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1))
    ap.add_argument("--input", type=Path)
    ap.add_argument("--dir", type=Path, required=True)
    a = ap.parse_args()
    if a.mode == "prep":
        prep(a.workload, a.seed, a.dir)
    else:
        run(a.workload, a.seconds, bool(a.trace), a.input, a.dir)


if __name__ == "__main__":
    main()
