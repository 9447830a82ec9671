"""The benchmark's workloads and their correctness gates.

Each workload drives the public ``TierPipeline`` lifecycle — the calls
``jobs/rollup_job.py`` makes — in one process:

``extend``
    starts from a copy of a template pipeline built at setup and plays a
    fixed script: one round, then the background pass. The round ingests
    one new day of 24 hourly points for a seeded 10% key sample and
    re-sends revised values for one day of the corpus month (keep-latest
    resolves real duplicates and that whole month is recomputed), then
    refreshes the three tiers and incrementally packs the daily tier.
    The background pass runs ``retention`` (the corpus month ages out of
    the raw table) and ``maintain``. Few points per round: bookkeeping
    dominates.
``point_read``
    one closed-loop client against a template whose daily tier is packed
    with a tail-masked month and whose monthly tier is packed; a seeded,
    Zipf-skewed key sequence mixes full daily series, one-month daily
    ranges, monthly series and one-month ranges gap-filled onto the
    daily grid. No writes.
``backfill``
    one full build of the corpus (ingest, refresh of all tiers, full
    daily pack) per op. Not in BENCHMARK.json (see perfbench/README.md):
    its warm-up build does not fit the benchmark's time budget next to
    the other two, but it runs the same way by hand.

Every op is checked; a failed check counts the op as failed.
"""

from __future__ import annotations

import itertools
import math
import os
import shutil
import statistics
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from inputs import (
    CORPUS_ARROW,
    READ_BLOCK,
    Corpus,
    Round,
    make_corpus,
    make_reads,
    make_round,
)

TIERS = ("daily", "dekadal", "monthly")
#: background retention policy (months kept per table, measured back from
#: the newest raw month): once the round's new month arrives, the corpus
#: month ages out of raw (the daily tier holds it, so the drop is allowed)
RETENTION = {"raw": 1, "daily": 2, "dekadal": 12}
#: the month whose day the round revises: the corpus month, still inside
#: the raw retention window when the round runs
REVISE_MONTH = "2019-10"
#: corpus documents and sampled keys per workload size
SIZES = {
    "full": {"docs": 200, "sample_keys": 2, "reads": 2000},
    "toy": {"docs": 12, "sample_keys": 2, "reads": 200},
}


@dataclass
class Measured:
    """What one measured pass produced."""

    op_s: list[float] = field(default_factory=list)
    wall_s: float = 0.0
    points: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    details: dict[str, object] = field(default_factory=dict)

    def record(self, seconds: float, points: int, errors: list[str]) -> None:
        self.op_s.append(seconds)
        self.points += points
        if errors:
            self.failed += 1
            self.errors.extend(errors)


class Run:
    """One benchmark process: session, inputs, setup and measured passes.

    ``tracer`` is None for an untraced run; otherwise its ``op`` context
    marks each timed op and ``active`` switches its wrappers on.
    """

    def __init__(self, spark, work: str, seed: int, seconds: float,
                 size: str, tracer=None):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.size = SIZES[size]
        self.tracer = tracer
        self.setup_parts: dict[str, float] = {}
        self.corpus: Corpus | None = None
        self.seq = None

    # ------------------------------------------------------------ helpers

    @contextmanager
    def timed(self, label: str, name: str):
        """One timed op of pass ``label``. In a traced run the wrappers
        record spans only while an op of the ``traced`` pass runs."""
        if self.tracer is None:
            yield
            return
        self.tracer.active = label == "traced"
        try:
            with self.tracer.op(name):
                yield
        finally:
            self.tracer.active = False

    def _span(self, name: str):
        if self.tracer is not None:
            return self.tracer.span("operators", name)
        return nullcontext()

    def _fresh(self, name: str) -> str:
        path = os.path.join(self.work, name)
        shutil.rmtree(path, ignore_errors=True)
        return path

    def _pipeline(self, base: str):
        from c3s_sm_spark.plans.pipeline import TierPipeline

        return TierPipeline(self.spark, base)

    def frames(self, rnd: Round) -> list:
        """The round's raw points as Spark frames in the raw-table layout,
        made before any timer starts (an input arrives as a table)."""
        from c3s_sm_spark.synth import sequences_to_points

        schema = sequences_to_points(self.seq).schema
        parts = [rnd.points] if rnd.revised is None else [rnd.points, rnd.revised]
        return [self.spark.createDataFrame(pdf[schema.names], schema) for pdf in parts]

    # -------------------------------------------------------------- setup

    def setup_corpus(self) -> None:
        """Generate the corpus and materialize it as a Parquet table.
        Written with pyarrow on the driver: the corpus is an input, so
        no Spark job of the setup goes into making it."""
        t0 = time.perf_counter()
        self.corpus = make_corpus(self.seed, self.size["docs"])
        path = self._fresh("corpus")
        os.makedirs(path)
        pq.write_table(
            pa.Table.from_pandas(self.corpus.pandas(), CORPUS_ARROW, preserve_index=False),
            os.path.join(path, "part-00000.parquet"),
        )
        self.seq = self.spark.read.parquet(path)
        self.setup_parts["corpus_s"] = time.perf_counter() - t0

    def build(self, base: str):
        """One full build: ingest, refresh every tier, pack daily."""
        from c3s_sm_spark.synth import sequences_to_points

        p = self._pipeline(base)
        p.ingest(sequences_to_points(self.seq))
        for tier in TIERS:
            p.refresh([tier])
        p.pack_tier("daily")
        return p

    def play_round(self, p, frames: list, tiers=TIERS) -> None:
        """Ingest, refresh the tiers, incremental daily pack."""
        for df in frames:
            p.ingest(df)
        for tier in tiers:
            p.refresh([tier])
        p.pack_tier("daily")

    def background(self, p) -> None:
        p.retention(RETENTION)
        p.maintain()

    # ------------------------------------------------------------- gates

    def _sample(self, idx: np.ndarray) -> np.ndarray:
        rng = np.random.default_rng([self.seed, 99])
        k = min(len(idx), self.size["sample_keys"])
        return np.sort(rng.choice(idx, k, replace=False))

    def check_build(self, p) -> list[str]:
        """Backfill gate: nobs and exact token sums through the cascade,
        raw token arrays and packed daily for sampled keys."""
        from pyspark.sql import functions as F

        c = self.corpus
        errs = []
        nobs = p.read_tier("daily").agg(F.sum("nobs")).head()[0]
        if nobs != c.n_points:
            errs.append(f"daily sum(nobs)={nobs} != sum(n_tok)={c.n_points}")
        vsum = p.read_tier("monthly").agg(F.sum("v_sum")).head()[0]
        if vsum != float(c.token_sum):  # token sums stay below 2**53: exact
            errs.append(f"monthly sum(v_sum)={vsum} != token sum {c.token_sum}")
        sample = self._sample(np.arange(len(c.doc_ids)))
        keys = [c.doc_ids[i] for i in sample]
        raw = (
            p.raw.read(self.spark)
            .where(F.col("doc_id").isin(keys))
            .select("doc_id", "pos", "token")
            .collect()
        )
        got: dict[str, dict[int, int]] = {k: {} for k in keys}
        for r in raw:
            got[r["doc_id"]][r["pos"]] = r["token"]
        for i, k in zip(sample, keys):
            toks = [got[k][j] for j in sorted(got[k])]
            if toks != c.tokens[i].tolist():
                errs.append(f"raw tokens of {k} differ from the input")
        tier = p.read_tier("daily").where(F.col("doc_id").isin(keys))
        for k in keys:
            want = [(r["ts"], r["v_mean"]) for r in tier.where(F.col("doc_id") == k).orderBy("ts").collect()]
            have = [(r["ts"], r["v_mean"]) for r in p.point_read(k, "daily").collect()]
            if have != want:
                errs.append(f"packed daily of {k} does not decode to its tier rows")
        return errs

    def check_round(self, p, rnd: Round) -> list[str]:
        """Extend gate: every tier's HWM is its source head, the packed
        daily table is current, touched keys show the new day and revised
        keys show the keep-latest winner."""
        from pyspark.sql import functions as F

        errs = []
        lin = p.lineage.read(self.spark).where(F.col("status") == "ok").collect()
        for tier, src in (("daily", p.raw), ("dekadal", p.tiers["daily"]),
                          ("monthly", p.tiers["dekadal"])):
            rows = sorted((r for r in lin if r["tier"] == tier), key=lambda r: r["finished_at"])
            if not rows or rows[-1]["src_snapshot"] != src.head():
                errs.append(f"{tier} HWM is not its source head")
        ptbl = p.packed["daily"]
        if ptbl._manifest(ptbl.head())["summary"].get("src_snapshot") != p.tiers["daily"].head():
            errs.append("packed daily is stale")
        checks = [(i, rnd.day, rnd.points) for i in self._sample(rnd.keys)]
        if rnd.revised is not None:
            checks += [(i, rnd.revised_day, rnd.revised) for i in self._sample(rnd.revised_keys)]
        for i, day, pts in checks:
            key = self.corpus.doc_ids[i]
            want = pts.loc[pts["doc_key"] == i, "v"].mean()
            got = p.point_read(key, "daily", str(day), str(day)).collect()
            if len(got) != 1 or not math.isclose(got[0]["v_mean"], want, rel_tol=1e-12):
                errs.append(f"{key} on {day}: read {[r['v_mean'] for r in got]}, want {want}")
        return errs

    # ------------------------------------------------------ measurement

    def keep_going(self, done: list[float]) -> bool:
        """Start another op while the measured time so far is below the
        run length, so a run measures at least that long; the first op
        always runs. Gate checks between ops are not measured time."""
        return sum(done) < self.seconds

    @staticmethod
    def compression_ratio(p) -> float:
        """Daily tier bytes / packed daily bytes (current snapshots)."""
        return p._table_bytes(p.tiers["daily"]) / p._table_bytes(p.packed["daily"])

    def stored_bytes(self, base: str) -> int:
        """On-disk Parquet bytes of raw, the tiers and their packed and
        tail tables (bookkeeping tables excluded)."""
        total = 0
        for name in os.listdir(base):
            if name in ("lineage", "metrics"):
                continue
            for dirpath, _dirs, files in os.walk(os.path.join(base, name, "data")):
                total += sum(
                    os.path.getsize(os.path.join(dirpath, f))
                    for f in files
                    if f.endswith(".parquet")
                )
        return total


# ---------------------------------------------------------------- backfill


def setup_backfill(run: Run) -> None:
    run.setup_corpus()
    t0 = time.perf_counter()
    run.build(run._fresh("warmup"))  # untimed warm-up build
    run.setup_parts["template_s"] = time.perf_counter() - t0


def lockstep(labels: list[str], step: int) -> list[str]:
    """The order in which the passes run step ``step``: every step of a
    measurement runs once per pass, back to back, and the order
    alternates, so neither pass always meets a step second (with caches
    and compiled code the first one left warm)."""
    return labels if step % 2 == 0 else labels[::-1]


def measure_backfill(run: Run, labels: list[str]) -> dict[str, Measured]:
    ms = {label: Measured() for label in labels}
    first = ms[labels[0]]
    while run.keep_going(first.op_s):
        k = len(first.op_s)
        for label in lockstep(labels, k):
            m = ms[label]
            base = run._fresh(f"{label}-build{k}")
            t0 = time.perf_counter()
            with run.timed(label, "build"):
                p = run.build(base)
            m.record(time.perf_counter() - t0, run.corpus.n_points, run.check_build(p))
            m.details["stored_bytes_per_point"] = run.stored_bytes(base) / run.corpus.n_points
            m.details["compression_ratio"] = run.compression_ratio(p)
            shutil.rmtree(base)
    for m in ms.values():
        m.wall_s = sum(m.op_s)
        m.details["backfill_points_per_s"] = m.points / m.wall_s
    return ms


# ------------------------------------------------------------------ extend


def script(run: Run) -> list[Round | str]:
    """The fixed extend script (``"background"`` marks the pass)."""
    return [
        make_round(run.seed, run.corpus, 1, revise_month=REVISE_MONTH),
        "background",
    ]


def setup_extend(run: Run) -> None:
    run.setup_corpus()
    t0 = time.perf_counter()
    run.build(os.path.join(run.work, "template"))
    run.script = script(run)
    run.round_frames = {
        s.number: run.frames(s) for s in run.script if s != "background"
    }
    run.setup_parts["template_s"] = time.perf_counter() - t0


def measure_extend(run: Run, labels: list[str]) -> dict[str, Measured]:
    """Play the whole script from fresh template copies, one copy per
    pass, the passes in lockstep: the first script always, later ones
    only if predicted to fit."""
    ms = {label: Measured() for label in labels}
    scripts = {label: [] for label in labels}
    background = {label: [] for label in labels}
    n_points = run.corpus.n_points + sum(
        s.n_points for s in run.script if s != "background"
    )
    while run.keep_going(scripts[labels[0]]):
        bases, pipes = {}, {}
        for label in labels:
            bases[label] = run._fresh(f"{label}-script{len(scripts[label])}")
            shutil.copytree(os.path.join(run.work, "template"), bases[label])
            pipes[label] = run._pipeline(bases[label])
        spent = dict.fromkeys(labels, 0.0)
        for i, step in enumerate(run.script):
            for label in lockstep(labels, i):
                p = pipes[label]
                t0 = time.perf_counter()
                if step == "background":
                    with run.timed(label, "background"):
                        run.background(p)
                    background[label].append(time.perf_counter() - t0)
                    spent[label] += background[label][-1]
                    continue
                with run.timed(label, f"round{step.number}"):
                    run.play_round(p, run.round_frames[step.number])
                dt = time.perf_counter() - t0
                spent[label] += dt
                ms[label].record(dt, step.n_points, run.check_round(p, step))
        for label in labels:
            scripts[label].append(spent[label])
            m = ms[label]
            m.details["stored_bytes_per_point"] = run.stored_bytes(bases[label]) / n_points
            m.details["compression_ratio"] = run.compression_ratio(pipes[label])
            shutil.rmtree(bases[label])
    for label, m in ms.items():
        m.wall_s = sum(scripts[label])
        m.details.update(
            extend_s=statistics.median(scripts[label]),
            extend_freshness_p50_s=statistics.median(m.op_s),
            extend_background_s=statistics.median(background[label]),
            round_s=m.op_s,
        )
    return ms


# -------------------------------------------------------------- point_read


def setup_point_read(run: Run) -> None:
    """Template: full build, one round refreshing the daily tier (its new
    month stays masked in the packed daily table and is served from the
    tail), monthly packed.
    Per-key expectations come from ``read_tier``."""
    from pyspark.sql import functions as F

    run.setup_corpus()
    t0 = time.perf_counter()
    p = run.build(os.path.join(run.work, "template"))
    rnd = make_round(run.seed, run.corpus, 1)
    run.play_round(p, run.frames(rnd), tiers=("daily",))
    p.pack_tier("monthly")
    run.pipeline = p
    run.n_points = run.corpus.n_points + rnd.n_points
    exp: dict[tuple, list] = {}
    for tier in ("daily", "monthly"):
        rows = p.read_tier(tier).select(
            "doc_id", F.date_format("ts", "yyyy-MM").alias("m"), "v_mean"
        ).collect()
        for r in rows:
            exp.setdefault((tier, r["doc_id"], None), []).append(r["v_mean"])
            if tier == "daily":
                exp.setdefault((tier, r["doc_id"], r["m"]), []).append(r["v_mean"])
    run.expect = {k: (len(v), math.fsum(v)) for k, v in exp.items()}
    day_month = str(rnd.day.astype("datetime64[M]"))
    run.reads = make_reads(
        run.seed, run.corpus, {int(i): [day_month] for i in rnd.keys},
        run.size["reads"],
    )
    for op in run.reads[-READ_BLOCK:]:  # untimed warm-up: every kind twice
        check_read(run.expect, op, read_op(run, p, op))
    run.setup_parts["template_s"] = time.perf_counter() - t0


def read_op(run: Run, p, op) -> list:
    """Run one read op; return its rows."""
    from c3s_sm_spark.operators import gapfill

    tier = "monthly" if op.kind == "monthly_series" else "daily"
    df = p.point_read(op.key, tier, start=op.start, end=op.end)
    if op.kind == "daily_month_gapfill":
        keys = run.spark.createDataFrame([(op.key,)], "doc_id string")
        with run._span("gap_fill"):
            return gapfill.gap_fill(
                df, ["doc_id"], "ts", "daily", op.start, op.end, keys_df=keys
            ).collect()
    return df.collect()


def check_read(expect: dict, op, rows) -> list[str]:
    """Point-read gate: row count and value checksum match the per-key
    expectation; gap-filled reads have exactly the grid's row count."""
    tier = "monthly" if op.kind == "monthly_series" else "daily"
    want_n, want_sum = expect.get((tier, op.key, op.month), (0, 0.0))
    vals = [r["v_mean"] for r in rows if r["v_mean"] is not None]
    ts = [r["ts"] for r in rows]
    errs = []
    if op.kind == "daily_month_gapfill":
        n_days = int(op.end[-2:])
        if len(rows) != n_days:
            errs.append(f"{op}: gap-filled {len(rows)} rows, grid has {n_days}")
    elif len(rows) != want_n:
        errs.append(f"{op}: {len(rows)} rows, want {want_n}")
    if len(vals) != want_n or not math.isclose(
        math.fsum(vals), want_sum, rel_tol=1e-12, abs_tol=1e-9
    ):
        errs.append(f"{op}: checksum {math.fsum(vals)} over {len(vals)}, want {want_sum} over {want_n}")
    if ts != sorted(ts):
        errs.append(f"{op}: rows not in time order")
    return errs


def measure_point_read(run: Run, labels: list[str]) -> dict[str, Measured]:
    """The closed loop, in whole blocks of the read sequence (each holds
    the exact op mix, so a run's mix does not depend on where its time
    ran out); in a traced run each read runs once per pass, the passes in
    lockstep."""
    ms = {label: Measured() for label in labels}
    first = ms[labels[0]]
    blocks: list[float] = []
    p = run.pipeline
    for b in itertools.count():
        if not run.keep_going(blocks):
            break
        done = len(first.op_s)
        for i in range(b * READ_BLOCK, (b + 1) * READ_BLOCK):
            op = run.reads[i % len(run.reads)]
            for label in lockstep(labels, i):
                t0 = time.perf_counter()
                with run.timed(label, op.kind):
                    rows = read_op(run, p, op)
                ms[label].record(
                    time.perf_counter() - t0, len(rows), check_read(run.expect, op, rows)
                )
        blocks.append(sum(first.op_s[done:]))
    stored = run.stored_bytes(os.path.join(run.work, "template")) / run.n_points
    ratio = run.compression_ratio(p)
    for m in ms.values():
        m.wall_s = sum(m.op_s)
        q = statistics.quantiles(m.op_s, n=100) if len(m.op_s) > 1 else m.op_s * 99
        m.details.update(
            stored_bytes_per_point=stored,
            compression_ratio=ratio,
            read_p50_ms=statistics.median(m.op_s) * 1e3,
            read_p90_ms=q[89] * 1e3,
            read_p95_ms=q[94] * 1e3,
            read_samples=len(m.op_s),
        )
    return ms


#: workload name -> (setup, measure)
WORKLOADS = {
    "backfill": (setup_backfill, measure_backfill),
    "extend": (setup_extend, measure_extend),
    "point_read": (setup_point_read, measure_point_read),
}
