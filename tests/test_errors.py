"""The task-log pattern library (VERDICT r6 task 6): synthetic logs in
Hadoop's/Spark's documented failure shapes (reference
``mrjob/logs/task.py:33-96,252-440``, ``mrjob/logs/spark.py:30-117``)
must each resolve to a classified probable cause — the difference
between "step failed" and "killed for exceeding memory limits"."""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mrjob_spark.dataflow.errors import (  # noqa: E402
    classify_exit_code,
    extract_probable_cause,
)

_CONTAINER_OOM_LOG = """\
2026-08-15 10:00:01,123 INFO [main] org.apache.hadoop.yarn.server.nodemanager.containermanager.monitor.ContainersMonitorImpl: Memory usage of ProcessTree 12345
2026-08-15 10:00:02,456 WARN [main] org.apache.hadoop.yarn.server.nodemanager.containermanager.monitor.ContainersMonitorImpl: Container [pid=12345,containerID=container_1598000000000_0001_01_000002] is running 268435456B beyond physical memory limits. Current usage: 2.2 GB of 2 GB physical memory used; 4.1 GB of 4.2 GB virtual memory used. Killing container.
Dump of the process-tree for container_1598000000000_0001_01_000002 :
"""

_CONTAINER_KILLED_LOG = """\
Task attempt_1598000000000_0001_m_000000_0 done.
Container killed on request. Exit code is 143
Container exited with a non-zero exit code 143
"""

_PIPEMAPRED_LOG = """\
2026-08-15 10:00:03,789 INFO [main] org.apache.hadoop.streaming.PipeMapRed: PipeMapRed exec [/bin/sh, -c, ./my_filter.sh]
java.lang.RuntimeException: PipeMapRed.waitOutputThreads(): subprocess failed with code 137
\tat org.apache.hadoop.streaming.PipeMapRed.waitOutputThreads(PipeMapRed.java:322)
\tat org.apache.hadoop.streaming.PipeMapRed.mapRedFinished(PipeMapRed.java:535)
"""

_JVM_TRACE_LOG = """\
2026-08-15 10:00:04,000 ERROR [main] org.apache.hadoop.mapred.YarnChild: Error running child
java.io.FileNotFoundException: File does not exist: hdfs://nn/user/data/input.txt
\tat org.apache.hadoop.hdfs.DistributedFileSystem.open(DistributedFileSystem.java:83)
\tat org.apache.hadoop.mapred.LineRecordReader.<init>(LineRecordReader.java:108)
\tat org.apache.hadoop.mapred.MapTask.runOldMapper(MapTask.java:453)
\tat org.apache.hadoop.mapred.MapTask.run(MapTask.java:343)
"""

_SPARK_APP_EXITED_LOG = """\
2026-08-15 10:00:05,000 INFO ApplicationMaster: Waiting for spark context initialization...
2026-08-15 10:00:09,000 ERROR ApplicationMaster: User application exited with status 10
2026-08-15 10:00:09,100 INFO ApplicationMaster: Final app status: FAILED, exitCode: 10
"""


def test_container_memory_kill_is_classified():
    cause = extract_probable_cause(_CONTAINER_OOM_LOG)
    assert cause is not None
    assert "beyond physical memory limits" in cause
    assert "container_1598000000000_0001_01_000002" in cause
    assert "raise the container/executor memory limit" in cause


def test_container_exit_code_is_classified():
    cause = extract_probable_cause(_CONTAINER_KILLED_LOG)
    assert cause is not None
    assert "143" in cause
    assert "SIGTERM" in cause


def test_pipemapred_subprocess_failure_points_at_task_stderr():
    cause = extract_probable_cause(_PIPEMAPRED_LOG)
    assert cause is not None
    assert "subprocess failed with code 137" in cause
    assert "OOM killer" in cause
    assert "stderr" in cause


def test_jvm_stack_trace_headline_extracted():
    cause = extract_probable_cause(_JVM_TRACE_LOG)
    assert cause is not None
    assert cause.splitlines()[0].startswith(
        "java.io.FileNotFoundException: File does not exist"
    )
    # a few frames for orientation, not the whole stack
    assert 2 <= sum(1 for ln in cause.splitlines() if "\tat " in ln or ln.lstrip().startswith("at ")) <= 3


def test_spark_app_exit_status_classified_and_points_at_stdout():
    cause = extract_probable_cause(_SPARK_APP_EXITED_LOG)
    assert cause is not None
    assert "status 10" in cause
    assert "stdout" in cause


def test_python_traceback_still_beats_jvm_noise():
    # embedded Python tracebacks remain the most specific cause — the JVM
    # wrapper around them must not win
    log = _JVM_TRACE_LOG + (
        "org.apache.spark.api.python.PythonException: "
        "Traceback (most recent call last):\n"
        '  File "/app/my_job.py", line 7, in mapper\n'
        "    raise ValueError('planted failure')\n"
        "ValueError: planted failure\n"
    )
    cause = extract_probable_cause(log)
    assert cause.startswith("ValueError: planted failure")
    assert "line 7 of /app/my_job.py" in cause


def test_exit_code_classification_table():
    assert "OOM" in classify_exit_code(137)
    assert "SIGTERM" in classify_exit_code(143)
    assert "signal 9" not in classify_exit_code(137)  # named, not generic
    assert "signal 11" in classify_exit_code(139) or "SIGSEGV" in classify_exit_code(139)
    assert classify_exit_code(2) == "nonzero exit"
    assert "signal 30" in classify_exit_code(158)


def test_diagnose_cli_on_synthetic_container_log(tmp_path, capsys):
    from mrjob_spark.cmd import main

    p = tmp_path / "syslog.txt"
    p.write_text(_CONTAINER_OOM_LOG)
    rc = main(["mrjob_spark", "diagnose", str(p)])
    out = capsys.readouterr().out
    assert rc == 0
    assert "Probable cause of failure" in out
    assert "memory limits" in out


def test_log4j_record_grouping_and_span():
    # multi-line records (a Java stack under its ERROR headline) must
    # group into ONE record with start_line/num_lines provenance
    # (reference mrjob/logs/log4j.py:44-71 contract)
    from mrjob_spark.dataflow.errors import (
        hadoop_cause_with_span,
        parse_log4j_records,
    )

    recs = parse_log4j_records(_JVM_TRACE_LOG.splitlines())
    # one ERROR record whose multi-line message holds the whole stack
    assert [r["num_lines"] for r in recs] == [6]
    assert recs[0]["level"] == "ERROR"
    assert recs[0]["logger"].endswith("YarnChild")
    assert "FileNotFoundException" in recs[0]["message"]

    got = hadoop_cause_with_span(_JVM_TRACE_LOG)
    assert got is not None
    cause, start, n = got
    assert cause.startswith("java.io.FileNotFoundException")
    assert (start, n) == (0, 6)  # cites exactly the ERROR record's lines


def test_log4j_alternate_layout_with_thread_brackets():
    from mrjob_spark.dataflow.errors import parse_log4j_records

    recs = parse_log4j_records(_CONTAINER_OOM_LOG.splitlines())
    structured = [r for r in recs if r["level"]]
    assert len(structured) == 2
    assert structured[1]["thread"] == "main"
    assert structured[1]["level"] == "WARN"
    # the process-tree dump line continues the WARN record
    assert "process-tree" in structured[1]["message"]


def test_diagnose_cli_prints_source_span(tmp_path, capsys):
    from mrjob_spark.cmd import main

    p = tmp_path / "syslog.txt"
    p.write_text(_JVM_TRACE_LOG)
    rc = main(["mrjob_spark", "diagnose", str(p)])
    out = capsys.readouterr().out
    assert rc == 0
    assert "lines 1-6 of" in out


_JHIST_LINES = [
    "Avro-Json",
    json.dumps({
        "type": "TASK_STARTED",
        "event": {"org.apache.hadoop.mapreduce.jobhistory.TaskStarted": {
            "taskid": "task_1598000000000_0001_m_000000",
        }},
    }),
    json.dumps({
        "type": "MAP_ATTEMPT_STARTED",
        "event": {"org.apache.hadoop.mapreduce.jobhistory.TaskAttemptStarted": {
            "taskid": "task_1598000000000_0001_m_000000",
            "attemptId": "attempt_1598000000000_0001_m_000000_0",
            "containerId": "container_1598000000000_0001_01_000002",
        }},
    }),
    json.dumps({
        "type": "MAP_ATTEMPT_FAILED",
        "event": {"org.apache.hadoop.mapreduce.jobhistory"
                  ".TaskAttemptUnsuccessfulCompletion": {
            "taskid": "task_1598000000000_0001_m_000000",
            "attemptId": "attempt_1598000000000_0001_m_000000_0",
            "error": ("Error: java.lang.RuntimeException: PipeMapRed"
                      ".waitOutputThreads(): subprocess failed with code 1\n"
                      "\tat org.apache.hadoop.streaming.PipeMapRed"
                      ".waitOutputThreads(PipeMapRed.java:322)"),
        }},
    }),
    json.dumps({
        "type": "TASK_FINISHED",
        "event": {"org.apache.hadoop.mapreduce.jobhistory.TaskFinished": {
            "taskid": "task_1598000000000_0001_m_000001",
            "counters": {"groups": [{
                "name": "my.group", "displayName": "my.group",
                "counts": [
                    {"name": "lines", "displayName": "lines", "value": 7},
                    {"name": "zeroes", "displayName": "zeroes", "value": 0},
                ],
            }]},
        }},
    }),
]

def test_parse_jhist_errors_counters_and_correlation():
    from mrjob_spark.dataflow.history import looks_like_jhist, parse_jhist

    text = "\n".join(_JHIST_LINES)
    assert looks_like_jhist(text)
    assert not looks_like_jhist(_JVM_TRACE_LOG)

    hist = parse_jhist(text.splitlines())
    (err,) = hist["errors"]
    assert err["task_id"] == "task_1598000000000_0001_m_000000"
    assert err["attempt_id"] == "attempt_1598000000000_0001_m_000000_0"
    assert "subprocess failed with code 1" in err["message"]
    assert err["start_line"] == 3
    # attempt → container correlation (how the reference finds task logs)
    assert hist["attempt_to_container_id"][err["attempt_id"]] == (
        "container_1598000000000_0001_01_000002"
    )
    # failed job: counters reconstructed from the successful task,
    # zero-valued counters kept (YARN reports them)
    assert hist["counters"] == {"my.group": {"lines": 7, "zeroes": 0}}


def test_diagnose_cli_on_jhist(tmp_path, capsys):
    from mrjob_spark.cmd import main

    p = tmp_path / "job_1598000000000_0001-1-hadoop-x.jhist"
    p.write_text("\n".join(_JHIST_LINES) + "\n")
    rc = main(["mrjob_spark", "diagnose", str(p)])
    out = capsys.readouterr().out
    assert rc == 0
    assert "subprocess failed with code 1" in out
    assert "generic task failure" in out  # exit-code classification applied
    assert "attempt_1598000000000_0001_m_000000_0" in out
    assert "container_1598000000000_0001_01_000002" in out
    assert "from line 4" in out
    assert "2 counters recovered" in out


# ---------------------------------------------------------------------
# pre-YARN (Hadoop 1.x) history files — round 12, the last COVERAGE
# out-of-scope note closed
# ---------------------------------------------------------------------

_PRE_YARN_SAMPLE = (
    'Meta VERSION="1" .\n'
    'Job JOBID="job_201512311928_0001" JOBNAME="streamjob1\\.jar"'
    ' USER="hadoop" .\n'
    'Task TASKID="task_201512311928_0001_m_000003" TASK_TYPE="MAP"'
    ' START_TIME="1451590341378"'
    ' SPLITS="/default-rack/172\\.31\\.22\\.226" .\n'
    'MapAttempt TASK_TYPE="MAP" TASKID="task_201512311928_0001_m_000000"'
    ' TASK_ATTEMPT_ID="attempt_201512311928_0001_m_000000_3"'
    ' TASK_STATUS="FAILED"'
    ' ERROR="java\\.lang\\.RuntimeException: PipeMapRed'
    '\\.waitOutputThreads(): subprocess failed with code 1\n'
    '\tat org\\.apache\\.hadoop\\.streaming\\.PipeMapRed'
    '\\.waitOutputThreads(PipeMapRed\\.java:372)\n'
    '" .\n'
    'MapAttempt TASKID="task_k" TASK_ATTEMPT_ID="attempt_k"'
    ' TASK_STATUS="KILLED" ERROR="speculative twin lost" .\n'
    'Task TASKID="task_201512311928_0001_m_000001" TASK_STATUS="SUCCESS"'
    ' COUNTERS="{(org\\.apache\\.hadoop\\.mapred\\.Task$Counter)'
    '(Map-Reduce Framework)'
    '[(MAP_INPUT_RECORDS)(Map input records)(18)]'
    '[(SPILLED_RECORDS)(Spilled Records)(0)]}" .\n'
    'Task TASKID="task_201512311928_0001_r_000000" TASK_STATUS="SUCCESS"'
    ' COUNTERS="{(org\\.apache\\.hadoop\\.mapred\\.Task$Counter)'
    '(Map-Reduce Framework)'
    '[(MAP_INPUT_RECORDS)(Map input records)(4)]}" .\n'
)


def test_pre_yarn_history_parses_errors_and_counters():
    from mrjob_spark.dataflow.history import (
        looks_like_jhist,
        looks_like_pre_yarn_history,
        parse_pre_yarn_history,
    )

    assert looks_like_pre_yarn_history(_PRE_YARN_SAMPLE)
    assert not looks_like_jhist(_PRE_YARN_SAMPLE)
    got = parse_pre_yarn_history(_PRE_YARN_SAMPLE.splitlines(True))
    # FAILED attempt surfaces unescaped with ids + line span; the
    # KILLED attempt is noise and must not
    (err,) = got["errors"]
    assert err["attempt_id"] == "attempt_201512311928_0001_m_000000_3"
    assert err["task_id"] == "task_201512311928_0001_m_000000"
    assert "subprocess failed with code 1" in err["message"]
    assert "\\." not in err["message"]  # unescaped
    assert err["start_line"] == 3 and err["num_lines"] == 3
    # no Job COUNTERS (failed job) → summed successful-task counters,
    # zero-amount counters kept
    assert got["counters"] == {
        "Map-Reduce Framework": {
            "Map input records": 22, "Spilled Records": 0,
        }
    }


def test_pre_yarn_history_matches_reference_parser():
    """Differential: the reference's own pre-YARN parser over the same
    bytes must produce our errors + counters (its record dicts carry
    start_line/num_lines under the hadoop_error sub-dict)."""
    ref = os.environ.get("MRJOB_REFERENCE_PATH", "/root/reference")
    if not os.path.isdir(os.path.join(ref, "mrjob")):
        pytest.skip("reference checkout not available")
    sys.path.insert(0, ref)
    try:
        from mrjob.logs.history import _parse_pre_yarn_history_log
    finally:
        sys.path.remove(ref)

    from mrjob_spark.dataflow.history import parse_pre_yarn_history

    theirs = _parse_pre_yarn_history_log(_PRE_YARN_SAMPLE.splitlines(True))
    ours = parse_pre_yarn_history(_PRE_YARN_SAMPLE.splitlines(True))
    assert ours["counters"] == theirs["counters"]
    assert len(ours["errors"]) == len(theirs["errors"]) == 1
    t, o = theirs["errors"][0], ours["errors"][0]
    assert o["message"] == t["hadoop_error"]["message"]
    assert o["attempt_id"] == t["attempt_id"]
    assert o["start_line"] == t["hadoop_error"]["start_line"]
    assert o["num_lines"] == t["hadoop_error"]["num_lines"]


def test_diagnose_cli_reads_pre_yarn_history(tmp_path, capsys):
    from mrjob_spark.cmd import main

    path = tmp_path / "job_201512311928_0001_1451590341378_hadoop_st"
    path.write_text(_PRE_YARN_SAMPLE)
    assert main(["mrjob", "diagnose", str(path)]) == 0
    out = capsys.readouterr().out
    assert "Probable cause of failure" in out
    assert "attempt_201512311928_0001_m_000000_3" in out
    assert "task_201512311928_0001_m_000000" in out
    assert "from line 4" in out
    assert "2 counters recovered" in out
