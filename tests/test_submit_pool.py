"""Pooled spark-submit host (round 13): protocol, reuse, error
propagation, and fallback behavior — exercised under a plain ``python``
prefix so the tests cover the request/reply machinery without paying a
real spark-submit boot (the real-submit path is covered end to end by
test_dataflow.py::test_spark_script_step_runs_external_script and
test_inline.py::test_spark_script_step_inline_matches_spark, both of
which now route through the pool)."""

from __future__ import annotations

import os
import sys

from mrjob_spark.dataflow import submit_pool


def test_pool_roundtrip_reuse_and_error_propagation(tmp_path):
    client = submit_pool._PoolClient((sys.executable,))
    try:
        out_file = tmp_path / "argv.txt"
        script = tmp_path / "writer.py"
        script.write_text(
            "import sys\n"
            "open(%r, 'w').write(' '.join(sys.argv[1:]))\n"
            "print('script says hello')\n" % str(out_file)
        )
        reply, out, _err = client.run(str(script), ["a", "b"])
        assert reply["ok"] is True
        assert out_file.read_text() == "a b"
        # per-request stdout slice carries the script's own chatter
        assert "script says hello" in out

        # second submission reuses the SAME host process (no respawn)
        pid_before = client._proc.pid
        reply2, _out, _err = client.run(str(script), ["c"])
        assert reply2["ok"] is True
        assert out_file.read_text() == "c"
        assert client._proc.pid == pid_before
        assert client.alive()

        # a raising script reports the traceback, host survives
        bad = tmp_path / "bad.py"
        bad.write_text("raise ValueError('kaboom')\n")
        reply3, _out, _err = client.run(str(bad), [])
        assert reply3["ok"] is False
        assert "ValueError" in reply3["err"] and "kaboom" in reply3["err"]
        assert client.alive()

        # nonzero SystemExit (sys.exit(3)) maps to ok=False rc=3
        exits = tmp_path / "exits.py"
        exits.write_text("import sys; sys.exit(3)\n")
        reply4, _out, _err = client.run(str(exits), [])
        assert reply4["ok"] is False and reply4["rc"] == 3
        assert client.alive()
    finally:
        client.close()
    assert not client.alive()


def test_get_client_tombstones_unpoolable_prefix():
    # a prefix that exits immediately (a test double's shape) is
    # detected during startup and remembered as unpoolable
    key = ("/bin/false", "--marker-tombstone-test")
    submit_pool._POOL.pop(key, None)
    try:
        assert submit_pool.get_client(key) is None
        assert key in submit_pool._POOL  # cached: no respawn storm
        assert submit_pool.get_client(key) is None
    finally:
        submit_pool._POOL.pop(key, None)


def test_host_exits_on_shutdown_marker(tmp_path):
    client = submit_pool._PoolClient((sys.executable,))
    scratch = client._scratch
    client.close()
    assert os.path.exists(os.path.join(scratch, "shutdown"))
    assert client._proc.poll() is not None


def test_timed_out_submission_is_killed_before_the_one_shot_fallback(
        spark, tmp_path, monkeypatch):
    """A pooled submission that outlives its timeout falls back to the
    one-shot ``spark-submit``. The host may still be running the step at
    that moment, so it is killed first and its command line is no longer
    pooled: the step's side effect happens exactly once."""
    import time

    from mrjob_spark.dataflow import SparkMRJob, SparkScriptStep

    # a spark-submit that drops its options and runs the app in Python
    fake = tmp_path / "spark-submit"
    fake.write_text(
        f"#!{sys.executable}\n"
        "import os, sys\n"
        "args = sys.argv[1:]\n"
        "while args[0].startswith('--'):\n"
        "    args = args[2:]\n"
        "os.execv(sys.executable, [sys.executable] + args)\n"
    )
    fake.chmod(0o755)
    monkeypatch.setenv("PATH", f"{tmp_path}{os.pathsep}{os.environ['PATH']}")
    marker = tmp_path / "marker.txt"
    script = tmp_path / "slow_step.py"
    script.write_text(
        "import sys, time\n"
        "time.sleep(1.0)\n"
        "with open(sys.argv[1], 'a') as fh:\n"
        "    fh.write('ran\\n')\n"
    )

    class MRSlowStep(SparkMRJob):
        def steps(self):
            return [SparkScriptStep(script=str(script), args=[str(marker)])]

    key = (str(fake), "--master", spark.conf.get("spark.master"))
    client = submit_pool.get_client(key)
    assert client is not None
    pid = client._proc.pid
    monkeypatch.setattr(submit_pool, "_SUBMIT_TIMEOUT", 0.2)
    inp = tmp_path / "in.txt"
    inp.write_text("x\n")
    try:
        MRSlowStep().make_runner(spark, input_paths=[str(inp)]).run()
        # long enough for a surviving host to finish its copy of the step
        time.sleep(1.5)
        assert marker.read_text().splitlines() == ["ran"]
        assert submit_pool._POOL[key] is None
        try:
            os.kill(pid, 0)
        except ProcessLookupError:
            pass
        else:
            raise AssertionError(f"submit host {pid} still running")
    finally:
        client.close()
        submit_pool._POOL.pop(key, None)
