"""Tests of the benchmark's pure helpers; no Spark session is started.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import io

import pyarrow.parquet as pq
import pytest

import gen
from spans import Accounting, Span, driver_gap, layer_self_times, union_length
from tracing import attach_jobs, stream_metrics


def test_union_length_counts_overlap_once():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 10), (2, 3)]) == 10
    assert union_length([]) == 0
    assert union_length([(3, 3), (4, 2)]) == 0  # empty and inverted intervals


def test_driver_gap_is_wall_minus_job_union_and_never_negative():
    # Two overlapping jobs: summing their durations (3 + 3) would exceed the
    # 4 s wall and give a negative gap.
    assert driver_gap(0, 4, [(0.5, 3.5), (0.5, 3.5)]) == pytest.approx(1.0)
    assert driver_gap(0, 4, [(0, 3), (1, 4)]) == 0
    # Jobs reaching outside the window only count inside it.
    assert driver_gap(10, 12, [(9, 11), (11.5, 20)]) == pytest.approx(0.5)
    assert driver_gap(0, 1, []) == 1


def _spans() -> list[Span]:
    return [
        Span(0, "pass", "pass", 0.0, 10.0, None, 0),
        Span(1, "q", "query", 0.5, 9.5, 0, 0),
        Span(2, "build", "build", 0.5, 4.0, 1, 0),
        Span(3, "action", "action", 4.0, 9.0, 1, 0),
        Span(4, "job 1", "spark.job", 1.0, 2.0, 2, 0),
        Span(5, "job 2", "spark.job", 5.0, 8.0, 3, 0),
        Span(6, "job 3", "spark.job", 6.0, 8.5, 3, 0),  # concurrent with job 2
        Span(7, "pass", "pass", 20.0, 21.0, None, 1),
    ]


def test_layer_self_times_partition_each_pass():
    by_pass = layer_self_times(_spans())
    own = by_pass[0]
    assert own["pass"] == pytest.approx(1.0)  # 0-0.5 and 9.5-10
    assert own["query"] == pytest.approx(0.5)  # 9.0-9.5
    assert own["build"] == pytest.approx(2.5)  # 3.5 s minus job 1
    assert own["action"] == pytest.approx(1.5)  # 5 s minus the union 5.0-8.5
    assert own["spark.job"] == pytest.approx(1.0 + 3.5)
    assert sum(own.values()) == pytest.approx(10.0)
    assert by_pass[1] == {"pass": pytest.approx(1.0)}


def test_attach_jobs_by_group_then_by_time_and_clipped():
    spans = _spans()[:4]
    jobs = [
        {"id": 1, "start": 1.0, "end": 1.5, "group": "pb-3", "jobs": 1, "tasks": 2},
        # no benchmark group (a streaming micro-batch): innermost span by time
        {"id": 2, "start": 1.0, "end": 2.0, "group": "run-id", "jobs": 1, "tasks": 4},
        # outside every span: dropped
        {"id": 3, "start": 30.0, "end": 31.0, "group": None, "jobs": 1, "tasks": 1},
    ]
    for j in jobs:
        for k in ("stages", "failed_tasks", "task_run_s", "task_cpu_s", "gc_s", "input_bytes",
                  "shuffle_read_bytes", "shuffle_write_bytes", "shuffle_fetch_wait_s", "spill_bytes"):
            j.setdefault(k, 0)
    out = attach_jobs(spans, jobs)
    assert [(s.name, s.parent) for s in out] == [("job 1", 3), ("job 2", 2)]
    assert (out[0].start, out[0].end) == (4.0, 4.0)  # clipped into its parent
    assert out[1].attrs["tasks"] == 4


def test_stream_metrics_attributes_batches_to_their_pass():
    passes = [Span(0, "pass", "pass", 0.0, 10.0, None, 0), Span(1, "pass", "pass", 10.0, 20.0, None, 1)]
    events = [
        ("start", "r1", 1.0, {}),
        ("batch", "r1", 1.5, {"addBatch": 400, "queryPlanning": 100, "walCommit": 20, "commitOffsets": 30}),
        ("batch", "r1", 2.5, {"addBatch": 200}),
        ("start", "r2", 12.0, {}),
        ("batch", "r2", 12.25, {"addBatch": 100}),
    ]
    m = stream_metrics(events, passes)
    assert m[0]["batches"] == 2 and m[0]["startup_s"] == pytest.approx(0.5)
    assert m[0]["add_batch_s"] == pytest.approx(0.6) and m[0]["wal_commit_s"] == pytest.approx(0.02)
    assert m[1]["batches"] == 1 and m[1]["startup_s"] == pytest.approx(0.25)


def test_failed_pass_adds_no_sample():
    acct = Accounting()
    assert acct.record(0, 1, 1.0, [("parse_curated", "ValueError")], {"features_ready_s": 0.4}) is False
    assert acct.record(1, 1, 3.0, [], {"features_ready_s": 2.0}) is True
    assert acct.record(2, 3, 5.0, [("q01", "WrongResult")]) is False
    assert acct.walls == [3.0]
    assert acct.samples == {"features_ready_s": [2.0]}
    assert (acct.attempted, acct.failed) == (5, 2)
    assert acct.error_rate == pytest.approx(0.4)
    assert acct.failures[0] == {"pass": 0, "stage": "parse_curated", "error": "ValueError"}
    with pytest.raises(ValueError):
        acct.record(3, 1, 1.0, [("a", "E"), ("b", "E")])
    assert Accounting().error_rate == 0.0


def _digest(tables) -> str:
    h = hashlib.sha256()
    for name in gen.TABLES:
        buf = io.BytesIO()
        pq.write_table(tables[name], buf)
        h.update(buf.getvalue())
    return h.hexdigest()


def test_tables_are_deterministic_per_seed():
    a, b, c = (gen.make_tables(0.001, s) for s in (7, 7, 8))
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)
    assert {n: t.num_rows for n, t in a.items()} == gen.table_rows(0.001)


def test_wallet_csv_is_deterministic_and_reference_shaped():
    lines = gen.wallet_lines(500, 3)
    assert lines == gen.wallet_lines(500, 3)
    assert lines != gen.wallet_lines(500, 4)
    assert lines[0] == gen.WALLET_HEADER and len(lines) == 501
    rows = [line.split(",") for line in lines[1:]]
    col = {name: i for i, name in enumerate(gen.WALLET_HEADER.split(","))}
    assert all(len(r) == 23 for r in rows)
    # the bucket edges survive the header=1 drop of the first data row
    assert [int(r[col["dias_atraso"]]) for r in rows[1:7]] == [-29, -30, -31, -89, -90, -91]
    assert all(int(r[col["dias_atraso"]]) < 0 for r in rows)
    day, month, year = rows[0][col["dt_venda"]].split("/")
    assert (len(day), len(month), len(year)) == (2, 2, 4)
    brands = {r[col["marca"]] for r in rows}
    assert {b.lower() for b in brands} == {"cyrela", "living", "vivaz"} and len(brands) > 3
    reneg = [r[col["dt_reneg"]] for r in rows]
    assert "" in reneg and any(reneg)
    assert all(len(r[col["unidade"]]) == 6 and len(r[col["bloco"]]) == 2 for r in rows)


def test_wallet_reference_accepts_its_own_output_and_rejects_a_changed_row(tmp_path):
    import duckdb

    from checks import _WALLET_CURATED, WALLET_FEATURES_SQL, WalletReference

    landing = str(tmp_path / "wallet-data.csv")
    gen.wallet_csv(200, 5, landing)
    header = gen.WALLET_HEADER.split(",")
    ref = WalletReference(landing, header)
    assert ref.want[0] == 199  # header=1 drops the first data row

    def serve(out_dir, where_changed: str) -> str:
        out_dir.mkdir()
        con = duckdb.connect()
        con.execute(_WALLET_CURATED.format(path=landing, names=", ".join(f"'{c}'" for c in header)))
        con.execute(f"CREATE TABLE feats AS {WALLET_FEATURES_SQL}")
        con.execute(f"UPDATE feats SET p_dias_atraso_category = 9 WHERE {where_changed}")
        con.execute(f"COPY feats TO '{out_dir}/part-00000.csv' (HEADER)")
        con.close()
        return str(out_dir)

    assert ref.problems(serve(tmp_path / "same", "false")) == []
    assert ref.problems(serve(tmp_path / "changed", "dias_atraso = -30"))
