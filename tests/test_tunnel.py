"""SSH tunnel lifecycle (dataflow/tunnel.py) — reference
``mrjob/cloud.py:404-549`` semantics, driven with REAL subprocesses:
stub "ssh" argvs that sleep (an open tunnel), exit (a failed local
bind), or don't exist (no ssh binary on PATH), the same way the
reference's own tests fake ssh.
"""

from __future__ import annotations

import random
import sys

from mrjob_spark.dataflow.tunnel import (
    DEFAULT_SSH_BIND_PORTS,
    MAX_SSH_RETRIES,
    SSHTunnel,
)

SLEEP = [sys.executable, "-c", "import time; time.sleep(30)"]
# a failed bind must be dead inside the 50 ms launch grace: an
# interpreter's start-up alone can outlast it, a tiny binary cannot
DIE = ["sh", "-c", "exit 1"]


def _tunnel(render, cluster="j-TESTCLUSTER", **kw):
    kw.setdefault("launch_wait_secs", 0.05)
    return SSHTunnel(render, cluster, **kw)


def test_pick_bind_ports_deterministic_per_cluster_and_rng_safe():
    t1 = _tunnel(lambda p: SLEEP)
    t2 = _tunnel(lambda p: SLEEP)
    t3 = _tunnel(lambda p: SLEEP, cluster="j-OTHER")

    random.seed(1234)
    before = random.random()
    random.seed(1234)
    ports = t1.pick_bind_ports()
    # picking ports must not perturb the global RNG stream
    assert random.random() == before

    assert ports == t2.pick_bind_ports()          # same cluster, same ports
    assert ports != t3.pick_bind_ports()          # different cluster
    assert len(ports) == MAX_SSH_RETRIES
    assert all(p in DEFAULT_SSH_BIND_PORTS for p in ports)


def test_set_up_opens_and_is_idempotent_and_kills():
    t = _tunnel(lambda p: SLEEP)
    try:
        assert t.set_up() is True
        port = t.pick_bind_ports()[0]
        assert t.url == "http://localhost:%d/cluster" % port
        pid = t._proc.pid
        assert t.set_up() is True          # already running: no relaunch
        assert t._proc.pid == pid
    finally:
        t.kill()
    assert t._proc is None and t.url is None


def test_failed_binds_walk_to_the_next_port():
    # first two candidate ports "fail to bind" (ssh exits immediately);
    # the third succeeds — the reference's port-walk loop
    t = _tunnel(lambda p: SLEEP)
    ports = t.pick_bind_ports()
    bad = set(ports[:2])
    t._render_args = lambda p: (DIE if p in bad else SLEEP)
    try:
        assert t.set_up() is True
        assert t.url.endswith(":%d/cluster" % ports[2])
    finally:
        t.kill()


def test_missing_ssh_binary_latches_give_up():
    calls = []

    def render(p):
        calls.append(p)
        return ["/nonexistent/ssh-binary-xyzzy", str(p)]

    t = _tunnel(render)
    assert t.set_up() is False
    assert t.gave_up
    n = len(calls)
    assert n == 1                      # OSError breaks, no port walk
    assert t.set_up() is False         # latched: no new launch attempts
    assert len(calls) == n


def test_unrenderable_args_do_not_latch():
    # "can't tunnel right now" (no master address yet) is retryable
    t = _tunnel(lambda p: None)
    assert t.set_up() is False
    assert not t.gave_up
    t._render_args = lambda p: SLEEP
    try:
        assert t.set_up() is True
    finally:
        t.kill()


def test_dead_tunnel_restarts_on_next_set_up():
    t = _tunnel(lambda p: SLEEP)
    try:
        assert t.set_up() is True
        first_pid = t._proc.pid
        t._proc.kill()
        t._proc.wait()
        assert t.set_up() is True      # restart-on-death
        assert t._proc.pid != first_pid
    finally:
        t.kill()


def test_restart_and_dead_kill_close_dead_process_pipes():
    """ADVICE r10: a dead tunnel's stdin/stdout/stderr PIPE handles were
    only closed on the failed-bind and still-running-kill branches — the
    restart path (set_up finds the process dead) and the self-exited
    kill path each leaked three fds per cycle on a long-polling runner."""
    t = _tunnel(lambda p: SLEEP)
    try:
        assert t.set_up() is True
        dead = t._proc
        dead.kill()
        dead.wait()
        assert t.set_up() is True          # restart-on-death path
        for f in (dead.stdin, dead.stdout, dead.stderr):
            assert f.closed, "restart path leaked a pipe fd"
    finally:
        t.kill()

    # kill() after self-exit: pipes must be closed in that branch too
    t2 = _tunnel(lambda p: SLEEP)
    assert t2.set_up() is True
    dead2 = t2._proc
    dead2.kill()
    dead2.wait()
    t2.kill()
    assert t2._proc is None
    for f in (dead2.stdin, dead2.stdout, dead2.stderr):
        assert f.closed, "kill-after-self-exit path leaked a pipe fd"


def test_stdin_payload_is_written_to_the_tunnel_process():
    """The Dataproc runner feeds b'\\n\\n' (empty passphrase twice) to a
    first-ever `gcloud compute ssh` so key generation can't block the
    launch (reference mrjob/dataproc.py:1273-1279). The payload must
    reach the child's stdin right after launch."""
    import tempfile

    with tempfile.NamedTemporaryFile(suffix=".txt") as out:
        reader = [
            sys.executable, "-c",
            "import sys, time; open(%r, 'wb').write("
            "sys.stdin.buffer.readline() + sys.stdin.buffer.readline()); "
            "time.sleep(30)" % out.name,
        ]
        t = _tunnel(lambda p: reader, stdin_payload=b"\n\n",
                    launch_wait_secs=0.3)
        try:
            assert t.set_up() is True
        finally:
            t.kill()
        assert open(out.name, "rb").read() == b"\n\n"
