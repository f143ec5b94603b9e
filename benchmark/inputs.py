"""Deterministic benchmark inputs.

Day logs: the ``sources.nmea_fixture.sail_log`` day, once per day with
per-day parameters drawn from the run seed, moved to its own date and
written as one text file per day. Day 0 keeps the fixture defaults and
its date (2024-06-01), so its summary must equal the golden
``nmea_pipeline_sail_summary`` rows.

Corpus: ``documents`` and ``embeddings`` parquet tables in the layout of
the engine's test data (declared schemas in ``process_spark.schemas``).
The corpus comes from a fixed seed, so that result digests can be pinned
and run time does not change with the corpus; the run seed permutes the
query order of each pass.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_DAYS = 7
FIXTURE_DATE = dt.date(2024, 6, 1)
#: Active seconds of one fixture day: 7200 s minus the 900 s shore gap.
ACTIVE_SECONDS = 7200 - 900

CORPUS_SEED = 20241017
N_DOCS = 1000
N_VECS = 1000
EMBED_DIM = 64
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
DUP_FRAC = 0.05


def day_params(seed: int) -> list[dict]:
    """Per-day ``sail_log`` keyword arguments; day 0 is the defaults."""
    rng = random.Random(seed)
    days = [{}]
    for _ in range(N_DAYS - 1):
        days.append(
            {
                "tack_period": rng.randrange(300, 901, 30),
                "gap_start": rng.randrange(1800, 5401, 60),
                "corrupt_every": rng.randrange(53, 152),
            }
        )
    return days


def _checksum(body: str) -> str:
    x = 0
    for b in body.encode():
        x ^= b
    return f"{x:02X}"


def _tenths(t: int) -> str:
    return f"{t // 10}.{t % 10}"


def day_lines(
    date: dt.date,
    n_seconds: int = 7200,
    gap_start: int = 3600,
    gap_len: int = 900,
    tack_period: int = 600,
    turn_seconds: int = 15,
    corrupt_every: int = 97,
) -> list[str]:
    """The sorted lines of ``sail_log(**params)`` moved to ``date``.

    A line-for-line port of ``process_spark.sources.nmea_fixture.sail_log``
    (the test suite checks the two agree), so that generating a week of
    logs costs milliseconds rather than a Spark job per day."""
    start = dt.datetime.combine(date, dt.time(10, 0, 0))
    ddmmyy = date.strftime("%d%m%y")
    lines = []
    for s in range(n_seconds):
        if gap_start <= s < gap_start + gap_len:
            continue
        ts = start + dt.timedelta(seconds=s)
        phase = (s // tack_period) % 2
        target, prev = (45, 135) if phase == 0 else (135, 45)
        off = s % tack_period
        step = 6 if target > prev else -6
        in_turn = off < turn_seconds and s >= tack_period
        hdg = prev + step * off if in_turn else target
        hdg_mag = (hdg - 16) % 360
        spd = _tenths(60 + s % 10)
        hhmmss = ts.strftime("%H%M%S")
        prefix = ts.strftime("%Y-%m-%dT%H:%M:%SZ ")
        lat = f"4738.{(s * 3) % 10000:04d}"
        lon = f"12221.{(s * 7) % 10000:04d}"
        bodies = (
            f"GPRMC,{hhmmss},A,{lat},N,{lon},W,{spd},{hdg},{ddmmyy},16.0,E,A",
            f"IIVHW,{hdg},T,{hdg_mag},M,{spd},N,,K",
            f"IIMWV,{35 + s % 5},R,{_tenths(120 + s % 7)},N,A",
            f"IIHDG,{hdg_mag},,,16.0,E",
        )
        for i, body in enumerate(bodies):
            chk = _checksum(body)
            if i == 2 and s % corrupt_every == 0:
                chk = f"{int(chk, 16) ^ 1:02X}"
            lines.append(f"{prefix}${body}*{chk}")
    lines.sort()
    return lines


def write_day_logs(out_dir: str, seed: int) -> list[str]:
    """Write the week of day logs into ``out_dir``; returns the paths."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i, kw in enumerate(day_params(seed)):
        date = FIXTURE_DATE + dt.timedelta(days=i)
        path = os.path.join(out_dir, f"{date.isoformat()}.txt")
        with open(path, "w") as f:
            f.write("\n".join(day_lines(date, **kw)) + "\n")
        paths.append(path)
    return paths


def write_corpus(out_dir: str) -> None:
    """Write ``documents.parquet`` and ``embeddings.parquet``, shaped like
    the engine's test tables: a 30-word vocabulary, 10 to 100 words per
    document, 5 % near-duplicates (another document's text plus
    ``" dup"``), and unit-norm isotropic vectors with 10 labels."""
    rng = np.random.default_rng(CORPUS_SEED)
    lengths = rng.integers(10, 101, N_DOCS)
    texts = [" ".join(rng.choice(VOCAB, n)) for n in lengths]
    dups = rng.choice(N_DOCS, int(N_DOCS * DUP_FRAC), replace=False)
    dup_set = set(dups.tolist())
    originals = [i for i in range(N_DOCS) if i not in dup_set]
    for d in dups:
        texts[d] = texts[originals[rng.integers(len(originals))]] + " dup"
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, N_DOCS, p=LANG_P), pa.string()),
            "source": pa.array(
                [f"src{k}" for k in rng.integers(0, 20, N_DOCS)], pa.string()
            ),
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )
    vecs = rng.standard_normal((N_VECS, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
            "embedding": pa.array(
                list(vecs.astype(np.float32)), pa.list_(pa.float32())
            ),
            "label": pa.array(rng.integers(0, 10, N_VECS), pa.int32()),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))


def pass_orders(names: list[str], seed: int, n_passes: int) -> list[list[str]]:
    """Query order of each pass: a seeded permutation per pass."""
    rng = random.Random(seed)
    orders = []
    for _ in range(n_passes):
        order = list(names)
        rng.shuffle(order)
        orders.append(order)
    return orders
