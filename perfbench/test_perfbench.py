"""The benchmark's own tests: seeded inputs are reproducible and seed-
dependent, and the ingest replay implements the medallion semantics the
correctness gate relies on. No Spark session is started.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import itertools
import os

import pyarrow.parquet as pq

from datagen import Landing, write_json_lines, write_tables
from headline import SUITE, pass_orders
from ingest import Replay
from procmem import PeakRss


def _landing_bytes(tmp_path, seed: int, n: int = 3) -> list[bytes]:
    land = Landing(seed, seed_keys=500, batch_rows=100)
    tmp_path.mkdir()
    out = [tmp_path / f"{seed}-seed.json"]
    write_json_lines(str(out[0]), land.seed_rows())
    for i in range(n):
        out.append(tmp_path / f"{seed}-{i}.json")
        write_json_lines(str(out[-1]), land.next_batch())
    return [p.read_bytes() for p in out]


def test_landing_files_repeat_for_a_seed(tmp_path):
    assert _landing_bytes(tmp_path / "a", 7) == _landing_bytes(tmp_path / "b", 7)


def test_landing_files_differ_across_seeds(tmp_path):
    a, b = _landing_bytes(tmp_path / "a", 7), _landing_bytes(tmp_path / "b", 8)
    assert all(x != y for x, y in zip(a, b))


def test_landing_batch_shape():
    land = Landing(3, seed_keys=1000, batch_rows=200)
    land.seed_rows()
    batch = land.next_batch()
    ids = [r["id"] for r in batch]
    assert len(ids) == len(set(ids)) == 200  # distinct keys within a batch
    updates = sum(int(i[1:]) < 1000 for i in ids)
    assert updates == 140  # the 70/30 update/insert share


def test_query_order_repeats_for_a_seed_and_differs_across_seeds():
    take = lambda s: list(itertools.islice(pass_orders(s), 4))  # noqa: E731
    assert take(5) == take(5)
    assert take(5) != take(6)
    assert all(sorted(o) == sorted(SUITE) for o in take(5))


def test_tables_are_byte_identical(tmp_path):
    a = write_tables(str(tmp_path / "a"), 0.001)
    b = write_tables(str(tmp_path / "b"), 0.001)
    for name in sorted(os.listdir(a)):
        assert (tmp_path / "a" / name).read_bytes() == (tmp_path / "b" / name).read_bytes(), name
    assert pq.read_table(os.path.join(a, "lineitem.parquet")).num_rows == 6000


def test_replay_upserts_and_drops_like_the_silver_layer():
    rp = Replay()
    rp.seed([{"id": "a", "location": "HCM", "area": "50.0", "bedrooms": "2", "price": "5.0"}])
    row = {"id": "a", "location": "HN", "area": "40.0", "bedrooms": "3", "price": "8.0"}
    rp.apply([row, {"id": "b", "location": "X", "area": "10.0", "bedrooms": "1", "price": None}])
    assert rp.rows == {"a": ("a", "HN", 40.0, 3, 8.0, 1, 0.2)}  # no price: dropped
    rp.rows["a"] = ("a", "HN", 40.0, 3, 9.0, 1, 0.225)
    rp.apply([row])  # a row seen whole before is dropped by the stream's dedup
    assert rp.rows["a"][4] == 9.0
    assert rp.read_agg() == {1: (1, 3, 9.0)}


def test_peak_rss_sees_this_process():
    rss = PeakRss()
    rss.sample()
    assert rss.peak_mb() > 1.0
