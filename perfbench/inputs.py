"""Seeded inputs for the tier-pipeline benchmark.

Everything the program receives is generated here from the workload seed
with NumPy, on the driver, before it is handed to Spark: the input_hint
corpus ``(doc_id, tokens array<int32>, n_tok, source)``, the extend round
script (new days and late revisions) and the point-read key sequence. The
same seed gives the same inputs; the program never sees the seed.

Time axis: ``c3s_sm_spark.synth.sequences_to_points`` puts token position
``p`` at ``T0 + p hours`` (24 positions per day), so a document of
``n_tok`` tokens covers days ``0 .. ceil(n_tok / 24) - 1`` after ``T0``.
Documents hold at most ``MAX_TOKENS`` tokens, so the corpus fills one
calendar month (October 2019) and new days arrive in the month after it.
"""

from __future__ import annotations

import calendar
import math
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa

VOCAB = 50257
#: position 0 of every sequence (mirrors c3s_sm_spark.synth.T0)
T0 = np.datetime64("2019-10-01T00", "h")
#: longest document: 30 days of hourly points, so the corpus ends on
#: 2019-10-30 (one month partition per table: every refresh call is paid
#: per partition, and a run must set up inside the benchmark's time budget)
MAX_TOKENS = 720
#: first day after the corpus: extend rounds add one day each from here on
FIRST_NEW_DAY = np.datetime64("2019-11-01", "D")
#: revised values are the originals plus this: keep-latest keeps the
#: largest ``v`` when the raw table has no version column, so the
#: revision must win and the daily mean must move by exactly this much
REVISION_DELTA = 1000.0
SOURCES = ("cc", "wiki", "books", "code", "forums")
SOURCE_P = (0.70, 0.10, 0.08, 0.07, 0.05)
#: share of keys that receive a new day in each extend round
ROUND_KEY_SHARE = 0.10

#: the corpus table: doc_id string, tokens array<int>, n_tok int, source string
CORPUS_ARROW = pa.schema([
    ("doc_id", pa.string()),
    ("tokens", pa.list_(pa.int32())),
    ("n_tok", pa.int32()),
    ("source", pa.string()),
])


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per input stream, so adding a stream never
    shifts the values another one draws."""
    return np.random.default_rng([seed, sum(map(ord, stream))])


@dataclass
class Corpus:
    doc_ids: list[str]
    tokens: list[np.ndarray]
    sources: list[str]

    @property
    def n_tok(self) -> np.ndarray:
        return np.array([len(t) for t in self.tokens], dtype=np.int64)

    @property
    def n_points(self) -> int:
        return int(self.n_tok.sum())

    @property
    def token_sum(self) -> int:
        return int(sum(int(t.sum(dtype=np.int64)) for t in self.tokens))

    def pandas(self) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "doc_id": self.doc_ids,
                "tokens": self.tokens,
                "n_tok": self.n_tok.astype(np.int32),
                "source": self.sources,
            }
        )

    def months_of(self, i: int) -> list[str]:
        """Calendar months ``YYYY-MM`` holding document ``i``'s points."""
        last = T0 + np.timedelta64(len(self.tokens[i]) - 1, "h")
        return [
            str(m)
            for m in np.arange(
                T0.astype("datetime64[M]"),
                last.astype("datetime64[M]") + 1,
            )
        ]


def make_corpus(seed: int, n_docs: int) -> Corpus:
    """Sequences of 64..MAX_TOKENS Zipf-distributed token ids, ~70% "cc"."""
    rng = _rng(seed, "corpus")
    lens = rng.integers(64, MAX_TOKENS + 1, n_docs)
    flat = ((rng.zipf(1.3, int(lens.sum())) - 1) % VOCAB).astype(np.int32)
    tokens = np.split(flat, np.cumsum(lens)[:-1])
    sources = rng.choice(len(SOURCES), n_docs, p=SOURCE_P)
    return Corpus(
        doc_ids=[f"doc{i:010d}" for i in range(n_docs)],
        tokens=tokens,
        sources=[SOURCES[s] for s in sources],
    )


def _points_frame(
    corpus: Corpus, doc_idx: np.ndarray, day: np.datetime64, tokens: np.ndarray,
    v: np.ndarray, flags: np.ndarray,
) -> pd.DataFrame:
    """24 hourly raw points per document for one day, in the column layout
    of ``sequences_to_points`` (``pos`` = hours since ``T0``)."""
    hours = np.arange(24)
    first = int((day.astype("datetime64[h]") - T0).astype(np.int64))
    rep = np.repeat(doc_idx, 24)
    return pd.DataFrame(
        {
            "doc_id": [corpus.doc_ids[i] for i in rep],
            "doc_key": rep.astype(np.int64),
            "source": [corpus.sources[i] for i in rep],
            "pos": np.tile(first + hours, len(doc_idx)).astype(np.int32),
            "token": tokens.astype(np.int32),
            "ts": np.tile(
                (day.astype("datetime64[h]") + hours).astype("datetime64[us]"),
                len(doc_idx),
            ),
            "v": v.astype(np.float64),
            "flag": flags.astype(np.int32),
        }
    )


@dataclass
class Round:
    """One extend round: a new day for a key sample, optionally a revised
    copy of one older corpus day for another sample."""

    number: int
    day: np.datetime64
    keys: np.ndarray
    points: pd.DataFrame
    revised_day: np.datetime64 | None = None
    revised_keys: np.ndarray = field(default_factory=lambda: np.empty(0, int))
    revised: pd.DataFrame | None = None

    @property
    def n_points(self) -> int:
        return len(self.points) + (0 if self.revised is None else len(self.revised))


def make_round(
    seed: int, corpus: Corpus, number: int, revise_month: str | None = None
) -> Round:
    """Round ``number`` (1-based) of the extend script.

    ``revise_month`` (``YYYY-MM``) adds late revisions: every hour of one
    seeded day of that month is re-sent with ``v + REVISION_DELTA`` for
    ~10% of the documents that have data on that day.
    """
    rng = _rng(seed, f"round{number}")
    n = len(corpus.doc_ids)
    day = FIRST_NEW_DAY + np.timedelta64(number - 1, "D")
    keys = np.sort(rng.choice(n, max(1, math.ceil(n * ROUND_KEY_SHARE)), replace=False))
    tok = ((rng.zipf(1.3, len(keys) * 24) - 1) % VOCAB).astype(np.int32)
    flags = np.where(rng.integers(0, 3, len(tok)) == 0, 256, 768)
    rnd = Round(number, day, keys, _points_frame(corpus, keys, day, tok, tok, flags))
    if revise_month is not None:
        y, m = int(revise_month[:4]), int(revise_month[5:7])
        days = np.arange(
            np.datetime64(revise_month, "D"),
            np.datetime64(revise_month, "D") + calendar.monthrange(y, m)[1],
        )
        firsts = (days.astype("datetime64[h]") - T0).astype(np.int64)
        # only days some document fully covers (all of them at full size)
        days = days[firsts + 24 <= corpus.n_tok.max()]
        rday = days[int(rng.integers(len(days)))]
        first = int((rday.astype("datetime64[h]") - T0).astype(np.int64))
        eligible = np.flatnonzero(corpus.n_tok >= first + 24)
        k = max(1, math.ceil(len(eligible) * ROUND_KEY_SHARE))
        rkeys = np.sort(rng.choice(eligible, k, replace=False))
        orig = np.concatenate([corpus.tokens[i][first : first + 24] for i in rkeys])
        rnd.revised_day = rday
        rnd.revised_keys = rkeys
        rnd.revised = _points_frame(
            corpus, rkeys, rday, orig, orig + REVISION_DELTA,
            np.full(len(orig), 768),
        )
    return rnd


#: reads per block of the read sequence; every block holds the exact mix
READ_BLOCK = 10
#: point-read op kinds and their share of the mix
READ_MIX = (
    ("daily_series", 0.30),
    ("daily_month", 0.30),
    ("monthly_series", 0.20),
    ("daily_month_gapfill", 0.20),
)


@dataclass(frozen=True)
class ReadOp:
    kind: str
    key: str
    month: str | None  # YYYY-MM for the ranged kinds

    @property
    def start(self) -> str | None:
        return None if self.month is None else f"{self.month}-01"

    @property
    def end(self) -> str | None:
        if self.month is None:
            return None
        y, m = int(self.month[:4]), int(self.month[5:7])
        return f"{self.month}-{calendar.monthrange(y, m)[1]:02d}"


def make_reads(
    seed: int, corpus: Corpus, extra_months: dict[int, list[str]], n_ops: int
) -> list[ReadOp]:
    """Closed-loop read sequence: Zipf(1.2)-skewed keys over a seeded key
    permutation, op kinds in ``READ_MIX`` shares, and for ranged kinds a
    month the key has data in (``extra_months`` adds months beyond the
    corpus, e.g. the extend round's new day)."""
    rng = _rng(seed, "reads")
    n = len(corpus.doc_ids)
    perm = rng.permutation(n)
    ranks = rng.zipf(1.2, n_ops * 2) - 1
    ranks = ranks[ranks < n][:n_ops]
    while len(ranks) < n_ops:  # tail draws past n are rare; top up
        r = rng.zipf(1.2) - 1
        if r < n:
            ranks = np.append(ranks, r)
    # block-stratified mix: every block of READ_BLOCK reads holds the
    # exact shares, so a run of whole blocks has the same mix on any seed
    block = np.repeat(
        np.arange(len(READ_MIX)), [round(p * READ_BLOCK) for _k, p in READ_MIX]
    )
    kinds = np.concatenate(
        [rng.permutation(block) for _ in range(-(-n_ops // len(block)))]
    )[:n_ops]
    ops = []
    for rank, kind in zip(ranks, kinds):
        i = int(perm[rank])
        name = READ_MIX[kind][0]
        month = None
        if name in ("daily_month", "daily_month_gapfill"):
            months = corpus.months_of(i) + extra_months.get(i, [])
            month = months[int(rng.integers(len(months)))]
        ops.append(ReadOp(name, corpus.doc_ids[i], month))
    return ops
