"""The sf100 methodology contract (VERDICT r09 #7): the fresh-session
single-query probe (tools/probe_one.py) was written mid-sweep in r09; these
pins keep the fourth decade's numbers reproducible — the single-query probe
and the combined sweep (tools/scaling_probe.py) must agree on data dirs and
the shuffle-partition sizing rule, probe_one must parse its args / plumb
the shuffle-codec env into the session build, and both must warm the JVM
with the same control query every timing is normalized against.
"""

from __future__ import annotations

import importlib
import sys
from pathlib import Path

TOOLS = Path(__file__).resolve().parent.parent / "tools"


def _tool(name):
    sys.path.insert(0, str(TOOLS))
    try:
        return importlib.import_module(name)
    finally:
        sys.path.remove(str(TOOLS))


def test_probe_sf_dirs_agree_across_tools():
    scaling = _tool("scaling_probe")
    protocol = _tool("protocol_probe")
    # scaling_probe owns the full five-decade map (probe_one imports it);
    # protocol_probe's subset must point at the SAME dirs
    for sf, d in protocol.SF_DIRS.items():
        assert scaling.SF_DIRS[sf] == d
    assert set(scaling.SF_DIRS) == {"0.001", "0.01", "0.1", "1", "10", "100"}
    # the driver-provided sets are immutable paths; replica sets live in-repo
    assert scaling.SF_DIRS["0.1"].startswith("/root/testdata/")
    assert scaling.SF_DIRS["100"].startswith("/root/repo/")


class _FakeConf:
    def __init__(self):
        self.set_calls = {}

    def set(self, k, v):
        self.set_calls[k] = v


class _FakeCatalog:
    def __init__(self):
        self.cleared = 0

    def clearCache(self):
        self.cleared += 1


class _FakeSpark:
    def __init__(self):
        self.conf = _FakeConf()
        self.catalog = _FakeCatalog()
        self.stopped = False

    def stop(self):
        self.stopped = True


def _run_probe_one(monkeypatch, argv, env=()):
    probe_one = _tool("probe_one")
    state = {"forced": [], "get_spark": []}
    fake = _FakeSpark()

    def fake_get_spark(app_name, extra_conf=None, **kw):
        state["get_spark"].append((app_name, dict(extra_conf or {})))
        return fake

    class _Spec:
        def __init__(self, name):
            self.fn = lambda spark, sf_dir, _n=name: (_n, sf_dir)

    def fake_registry():
        return {n: _Spec(n) for n in ("pricing_summary", "bipartite_pagerank")}

    monkeypatch.setattr(probe_one, "get_spark", fake_get_spark)
    monkeypatch.setattr(probe_one, "load_registry", fake_registry)
    monkeypatch.setattr(probe_one, "force", state["forced"].append)
    monkeypatch.setattr(sys, "argv", ["probe_one.py", *argv])
    for k, v in env:
        monkeypatch.setenv(k, v)
    probe_one.main()
    return probe_one, state, fake


def test_probe_one_arg_parsing_and_session_parity(monkeypatch, capsys):
    probe_one, state, fake = _run_probe_one(
        monkeypatch, ["100", "bipartite_pagerank", "2"]
    )
    # one session per invocation, stopped at exit (per-query JVM = temp
    # spill reclaimed between heavy sf100 queries — the r09 ENOSPC lesson)
    assert len(state["get_spark"]) == 1 and fake.stopped
    # sf>1 sizes the shuffle to the data: constant rows/partition
    assert fake.conf.set_calls["spark.sql.shuffle.partitions"] == str(32 * 100)
    # warm-up control first, then `runs` timed executions of the target
    names = [f[0] for f in state["forced"]]
    assert names == [
        "pricing_summary", "bipartite_pagerank", "bipartite_pagerank",
    ]
    # every leg reads the same dir the sweep would
    scaling = _tool("scaling_probe")
    assert {f[1] for f in state["forced"]} == {scaling.SF_DIRS["100"]}
    out = capsys.readouterr().out
    assert "# sf100 bipartite_pagerank:" in out


def test_probe_one_small_sf_keeps_default_shuffle(monkeypatch, capsys):
    _, _, fake = _run_probe_one(monkeypatch, ["0.1", "pricing_summary"])
    assert "spark.sql.shuffle.partitions" not in fake.conf.set_calls


def test_probe_one_plumbs_shuffle_codec(monkeypatch, capsys):
    """EDW_SHUFFLE_CODEC must reach the session BUILD (static conf) — the
    knob the r09 sf100 disk-wall retry turned; timings taken with it are
    labeled wherever reported."""
    _, state, _ = _run_probe_one(
        monkeypatch,
        ["10", "pricing_summary"],
        env=[("EDW_SHUFFLE_CODEC", "zstd")],
    )
    _, extra = state["get_spark"][0]
    assert extra.get("spark.io.compression.codec") == "zstd"


def _run_interleave_ab(monkeypatch, argv):
    ab = _tool("interleave_ab")
    state = {"forced": [], "get_spark": [], "orig_force": ab.force}
    fake = _FakeSpark()

    def fake_get_spark(app_name, extra_conf=None, **kw):
        state["get_spark"].append((app_name, dict(extra_conf or {})))
        return fake

    class _Spec:
        def __init__(self, name):
            self.fn = lambda spark, sf_dir, _n=name: (_n, sf_dir)

    names = (ab.CONTROL, *ab.DEFAULT_MOVERS, "prefix_filter_jaccard_pairs")

    monkeypatch.setattr(ab, "get_spark", fake_get_spark)
    monkeypatch.setattr(ab, "load_registry",
                        lambda: {n: _Spec(n) for n in names})
    monkeypatch.setattr(ab, "force", state["forced"].append)
    monkeypatch.setattr(sys, "argv", ["interleave_ab.py", *argv])
    ab.main()
    return ab, state, fake


def test_interleave_ab_session_and_forcing_parity(monkeypatch, capsys):
    """The A/B attribution tool (VERDICT r10 #7) must measure the SAME
    engine surface the bench does: bench.py's own force() (noop-sink full
    materialization — asserted by identity, not re-implementation), one
    warm session built by the same get_spark, at the bench's default sf0.1
    dir, stopped at exit."""
    ab, state, fake = _run_interleave_ab(
        monkeypatch, ["prefix_filter_jaccard_pairs"]
    )
    import bench

    # literally the bench materialization (captured before the patch)
    assert state["orig_force"] is bench.force
    assert len(state["get_spark"]) == 1 and fake.stopped
    assert ab.SF_DIR == "/root/testdata/sf0.1"
    forced_dirs = {f[1] for f in state["forced"]}
    assert forced_dirs == {ab.SF_DIR}
    out = capsys.readouterr().out
    assert "prefix_filter_jaccard_pairs" in out and ab.CONTROL in out


def test_interleave_ab_interleaves_control_and_movers(monkeypatch, capsys):
    """The point of the tool is INTERLEAVING (control re-measured adjacent
    to every mover pass so host drift shows up in both): after the one
    warm-up, the forcing order must be ROUNDS repetitions of
    [control, mover...] — never all runs of one query blocked together —
    with the session cache dropped between timed runs."""
    ab, state, fake = _run_interleave_ab(monkeypatch, [])
    names = [f[0] for f in state["forced"]]
    expect = [ab.CONTROL] + ab.ROUNDS * [ab.CONTROL, *ab.DEFAULT_MOVERS]
    assert names == expect
    assert fake.catalog.cleared == len(names) - 1  # every timed run


def test_dump_round_plans_writes_round_dir(monkeypatch, tmp_path, capsys):
    """One plan dumper for every round: argv is `<round> <tag> [query ...]`
    and each named query's formatted plan lands in
    plans/<round>/<query>_<tag>.txt."""
    dump = _tool("dump_round_plans")
    fake = _FakeSpark()

    class _Df:
        def __init__(self, name):
            self.name = name

        def explain(self, mode):
            print(f"plan of {self.name} ({mode})")

    class _Spec:
        bench = True

        def __init__(self, name):
            self.fn = lambda spark, sf_dir, _n=name: _Df(_n)

    monkeypatch.setattr(dump, "REPO", tmp_path)
    monkeypatch.setattr(dump, "get_spark", lambda app_name: fake)
    monkeypatch.setattr(dump, "load_registry",
                        lambda: {n: _Spec(n) for n in ("q_a", "q_b")})
    dump.main(["r99", "after", "q_b"])
    written = sorted(p.relative_to(tmp_path).as_posix()
                     for p in tmp_path.rglob("*.txt"))
    assert written == ["plans/r99/q_b_after.txt"]
    assert (tmp_path / "plans/r99/q_b_after.txt").read_text() == (
        "plan of q_b (formatted)\n"
    )
    assert fake.stopped


def test_dump_plans_showcase_names_are_registered():
    """tools/dump_plans.py regenerates PLANS.md from its SHOWCASE list; a
    renamed or deleted query must fail here, not as a KeyError halfway
    through a regeneration."""
    dump = _tool("dump_plans")
    registry = dump.load_registry()
    missing = [name for name, _ in dump.SHOWCASE if name not in registry]
    assert not missing, missing
