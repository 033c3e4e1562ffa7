"""tools/harness.py: the pinned child run, the child-script prelude and the
steal watch — no Spark."""

import glob
import json
import os
import re
import subprocess
import sys

import pytest

TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
sys.path.insert(0, TOOLS)

import analytics_10x_confirm as a10  # noqa: E402
import harness  # noqa: E402
import op_scaling_spot as spot  # noqa: E402
import scaling_bench as sb  # noqa: E402
import winnow_10x_confirm as w10  # noqa: E402


def _box(monkeypatch, n: int) -> None:
    """Pretend this process may run on ``n`` cores."""
    monkeypatch.setattr(harness.os, "sched_getaffinity", lambda pid: set(range(n)))


@pytest.fixture
def children(monkeypatch):
    """Stub the child run on a 32-core box; record (argv, env, kwargs) of
    every call."""
    calls = []
    _box(monkeypatch, 32)

    def fake_run(argv, env, **kw):
        calls.append((argv, env, kw))
        out = {"t": 1.0, "t1": 0.5, "t_marg": 0.5}
        if argv[-1].endswith("bench.py"):  # the queries leg's bench.py record
            out = {"value": 2.0, "queries": {"tile_pipeline": 1.0, "pip": 1.0},
                   "sf": 0.1, "n_pages": 2_000_000, "pages_per_sec": 2e6}
        return subprocess.CompletedProcess(argv, 0, "warming up\n" + json.dumps(out) + "\n", "")

    monkeypatch.setattr(harness.subprocess, "run", fake_run)
    return calls


def test_command_pins_n_cores(monkeypatch):
    _box(monkeypatch, 8)
    assert harness.command(["-c", "pass"], 8) == ["taskset", "-c", "0-7", sys.executable, "-c", "pass"]
    assert harness.command(["-c", "pass"], 2)[:3] == ["taskset", "-c", "0-1"]
    assert harness.command(["-c", "pass"]) == [sys.executable, "-c", "pass"]


def test_levels_above_the_box_are_refused_and_skipped(children, tmp_path, monkeypatch, capsys):
    """On a 4-core box an 8-core pin is refused; the tools skip the level
    with a printed line and record no wall for it."""
    _box(monkeypatch, 4)
    with pytest.raises(ValueError, match="box has 4 cores"):
        harness.command(["-c", "pass"], 8)
    assert harness.command(["-c", "pass"], 4)[:3] == ["taskset", "-c", "0-3"]
    assert harness.runnable((2, 8, 32)) == [2]
    assert "t(8) skipped: box has 4 cores" in capsys.readouterr().out

    monkeypatch.setattr(harness, "REPO", str(tmp_path))
    monkeypatch.setattr(sys, "argv", ["op_scaling_spot.py", "setjoin"])
    spot.main()
    (line,) = open(tmp_path / "BENCH" / "op_spots.jsonl").read().splitlines()
    assert set(json.loads(line)["ops"]["setjoin"]) == {"2", "input", "steal_tps", "noisy"}
    spot.confirm_10x("setjoin", lambda cpus: 1.0, 1.0, 1.0, "10x")
    assert len(open(tmp_path / "BENCH" / "op_spots.jsonl").read().splitlines()) == 1

    monkeypatch.setattr(sb, "REPO", str(tmp_path))
    monkeypatch.setattr(sb, "SF_DIR", sb.SF_DIR)  # main() rebinds it
    monkeypatch.setattr(sb, "PAGES_PARQUET", str(tmp_path / "pages"))
    monkeypatch.setattr(sys, "argv", ["scaling_bench.py", "--legs", "flagship,queries"])
    with pytest.raises(SystemExit, match="no recorded flagship/text legs"):
        sb.main()
    (line,) = open(tmp_path / "BENCH" / "history.jsonl").read().splitlines()
    entry = json.loads(line)
    assert entry["flagship"] == {"2": 1.0} and "qbench" not in entry
    assert "t(32) skipped: box has 4 cores" in capsys.readouterr().out
    pinned = [argv[:3] for argv, _, _ in children if argv[0] == "taskset"]
    assert pinned and all(pin == ["taskset", "-c", "0-1"] for pin in pinned)


def test_run_env_timeout_and_last_line_json(children):
    got = harness.timed("print(1)", 4, timeout=1200, SPARK_GRAFT_CPUS="4")
    assert got == {"t": 1.0, "t1": 0.5, "t_marg": 0.5}
    argv, env, kw = children[0]
    assert argv[:3] == ["taskset", "-c", "0-3"] and argv[-2:] == ["-c", "print(1)"]
    assert env["PYTHONPATH"] == harness.REPO
    assert env["SPARK_GRAFT_CPUS"] == "4"
    assert kw == {"capture_output": True, "text": True, "timeout": 1200, "check": True}
    assert harness.last_json('noise\n{"t": 2.5}\n\n') == {"t": 2.5}


def _stat(proc, total_rest: int, steal: int) -> None:
    # cpu user nice system idle iowait irq softirq steal guest guest_nice
    with open(os.path.join(proc, "stat"), "w") as f:
        f.write(f"cpu  100 0 50 {total_rest} 0 0 0 {steal} 0 0\ncpu0 1 2 3 4 5 6 7 8 9 10\n")


@pytest.mark.parametrize("steal,noisy", [(40, False), (100, False), (101, True), (300, True)])
def test_steal_rate_and_noisy_flag(tmp_path, monkeypatch, steal, noisy):
    clock = [1000.0]
    monkeypatch.setattr(harness.time, "time", lambda: clock[0])
    _stat(tmp_path, 850, 0)
    watch = harness.StealWatch(proc=str(tmp_path))
    clock[0] += 2.0
    _stat(tmp_path, 850 + 200, steal)
    assert watch.rate() == pytest.approx(steal / 2.0)
    assert harness.noisy(watch.rate()) is noisy
    assert watch.share() == pytest.approx(steal / (200 + steal))


def test_tools_build_valid_pinned_children(children):
    """Every leg, op and 10x level builds a child script that compiles,
    and every measuring child is pinned to its level's cores."""
    legs = [sb._flagship, sb._text_flagship, sb._curation, sb._graph, sb._analytics]
    legs += [a10._run_level, w10._run_level]
    for cpus in (2, 8):
        for leg in legs:
            leg(cpus)
        for op in spot._OPS:
            spot._run(op, cpus)
    assert len(children) == 2 * (len(legs) + len(spot._OPS))
    for argv, _, _ in children:
        assert argv[0] == "taskset"
        compile(argv[argv.index("-c") + 1], "<child>", "exec")


def test_materializers_are_unpinned_valid_children(children, tmp_path, monkeypatch):
    for name in ("PAGES_PARQUET", "DOCS_PARQUET", "EDGES_PARQUET"):
        monkeypatch.setattr(sb, name, str(tmp_path / name))
    sb._materialize_pages()
    sb._materialize_docs()
    sb._materialize_edges()
    sb.materialize_events(str(tmp_path / "events"))
    sb.materialize_events(str(tmp_path / "events10x"), a10.N10, 2048, "mat-events10x", 3600)
    w10._materialize()
    assert len(children) == 6
    for argv, _, kw in children:
        assert argv[0] == sys.executable
        compile(argv[2], "<materialize>", "exec")
    assert [kw["timeout"] for _, _, kw in children] == [900, 900, 900, 900, 3600, 1800]
    compile(spot._MATERIALIZE, "<materialize>", "exec")


def test_main_measures_every_leg_and_writes_the_report(children, tmp_path, monkeypatch):
    """A full default run: every leg measured (children stubbed), one
    history entry appended and BENCH/BASELINE.md regenerated from it."""
    monkeypatch.setattr(sb, "REPO", str(tmp_path))
    monkeypatch.setattr(sb, "SF_DIR", sb.SF_DIR)  # main() rebinds it
    for name in ("PAGES_PARQUET", "DOCS_PARQUET", "EDGES_PARQUET"):
        monkeypatch.setattr(sb, name, str(tmp_path / name))
    monkeypatch.setattr(sys, "argv", ["scaling_bench.py"])
    monkeypatch.delenv("SPARK_GRAFT_CURATION", raising=False)
    sb.main()
    (line,) = open(tmp_path / "BENCH" / "history.jsonl").read().splitlines()
    entry = json.loads(line)
    for leg in ("flagship", "text", "curation", "graph", "analytics", "qbench"):
        assert leg in entry, leg
    assert set(entry["steal_tps"]) == {"flagship", "text", "curation", "graph", "analytics", "queries"}
    assert "Generated" in open(tmp_path / "BENCH" / "BASELINE.md").read()


def test_one_copy_of_the_measurement_machinery():
    """Only the harness pins, reads steal or starts child processes, and
    each shared pipeline body lives in one tool."""
    files = {os.path.basename(p): open(p).read() for p in glob.glob(os.path.join(TOOLS, "*.py"))}
    code = {
        "child process": r"\bimport subprocess\b|\bsubprocess\.",
        "taskset argv": r"[\"']taskset[\"']",
        "stat read": r"open\(\s*f?[\"'][^\"']*/stat[\"']",
    }
    for name, text in files.items():
        if name != "harness.py":
            for what, pattern in code.items():
                assert not re.search(pattern, text), (name, what)
    assert all(re.search(p, files["harness.py"]) for k, p in code.items() if k != "stat read")
    for body in ("pa.max_drawdown(", "tx.winnow_udf()"):
        assert sum(text.count(body) for text in files.values()) == 1, body
    perfbench = os.path.join(os.path.dirname(TOOLS), "perfbench")
    for p in glob.glob(os.path.join(perfbench, "**", "*.py"), recursive=True):
        assert not re.search(r"^\s*(from|import)\s+(tools|harness)\b", open(p).read(), re.M), p
