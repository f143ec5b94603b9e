"""Input generation is deterministic per seed.

    python3 -m pytest benchmark/tests -q
"""

from __future__ import annotations

import filecmp
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

import inputs  # noqa: E402
from run import LLM_QUERIES  # noqa: E402


def test_day_params_follow_the_seed():
    assert inputs.day_params(1) == inputs.day_params(1)
    assert inputs.day_params(1) != inputs.day_params(2)
    assert inputs.day_params(1)[0] == {}  # the golden defaults day


def test_query_order_follows_the_seed():
    names = [*LLM_QUERIES, "q_a", "q_b", "q_c"]
    assert inputs.pass_orders(names, 5, 4) == inputs.pass_orders(names, 5, 4)
    assert inputs.pass_orders(names, 5, 4) != inputs.pass_orders(names, 6, 4)
    assert all(sorted(o) == sorted(names) for o in inputs.pass_orders(names, 5, 4))


def _read(paths):
    out = []
    for p in paths:
        with open(p, "rb") as f:
            out.append((os.path.basename(p), f.read()))
    return out


def test_day_logs_follow_the_seed(tmp_path):
    a = _read(inputs.write_day_logs(str(tmp_path / "a"), seed=3))
    b = _read(inputs.write_day_logs(str(tmp_path / "b"), seed=3))
    c = _read(inputs.write_day_logs(str(tmp_path / "c"), seed=4))
    assert a == b
    assert [n for n, _ in a] == [n for n, _ in c]
    assert a[0] == c[0]  # the defaults day does not depend on the seed
    assert a[1:] != c[1:]
    n_lines = sum(data.count(b"\n") for _, data in a)
    assert n_lines == inputs.N_DAYS * inputs.ACTIVE_SECONDS * 4


def test_later_days_carry_their_own_date_and_valid_checksums():
    import datetime as dt

    lines = inputs.day_lines(dt.date(2024, 6, 3), n_seconds=40, gap_start=20,
                             gap_len=5, corrupt_every=1000)
    assert all(line.startswith("2024-06-03T") for line in lines)
    for line in lines[4:]:  # second 0 carries the corrupted MWV
        body, chk = line.split("$", 1)[1].split("*")
        assert inputs._checksum(body) == chk
        if body.startswith("GPRMC,"):
            assert body.split(",")[9] == "030624"


def test_corpus_is_byte_identical(tmp_path):
    inputs.write_corpus(str(tmp_path / "a"))
    inputs.write_corpus(str(tmp_path / "b"))
    for name in ("documents.parquet", "embeddings.parquet"):
        assert filecmp.cmp(tmp_path / "a" / name, tmp_path / "b" / name, shallow=False)


@pytest.fixture(scope="module")
def spark():
    from process_spark.session import get_spark

    s = get_spark("benchmark-inputs-test", master="local[2]")
    yield s
    s.stop()


@pytest.mark.parametrize("which", [0, 1])
def test_day_lines_match_the_engine_fixture(spark, which):
    from process_spark.sources.nmea_fixture import sail_log

    kw = inputs.day_params(7)[which]
    want = sorted(r["raw"] for r in sail_log(spark, **kw).collect())
    assert inputs.day_lines(inputs.FIXTURE_DATE, **kw) == want
