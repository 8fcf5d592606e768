"""SparkJobRunner — compiles a SparkMRJob's steps into ONE lazy Spark plan.

Semantics follow the reference's own Spark harness
(``mrjob/spark/harness.py:328-608``) but the implementation is fresh and
Spark-first:

* pairs stay native Python objects between steps (the harness's
  ``--skip-internal-protocol`` fast path, made the only path);
* the shuffle is ``repartitionAndSortWithinPartitions`` on a canonical
  encoded key + ``itertools.groupby``, so reducers receive a **lazy**
  value iterator per key — a hot key streams instead of materializing
  (the reference harness materializes per-key lists via ``rdd.groupBy``,
  ``mrjob/spark/harness.py:568-576``; at 100 TB that is an OOM);
* combiners map onto ``combineByKey`` with the reference's exact
  edge-case handling for combiners that yield 0 or ≥2 pairs
  (``mrjob/spark/harness.py:466-489``);
* counters are a Spark accumulator merging nested dicts
  (``mrjob/spark/harness.py:125-139``);
* SORT_VALUES sorts each key's values by their canonical encoded bytes
  (``mrjob/job.py:1567-1593``, ``mrjob/sim.py:764-767``);
* ``*_cmd`` / ``*_pre_filter`` substeps run through ``rdd.pipe`` with
  jobconf-style environment variables (``mrjob/sim.py:320-402``).
"""

from __future__ import annotations

import itertools
import os
import tempfile
import uuid
import zlib
from typing import Iterable, Iterator, Optional

from pyspark.accumulators import AccumulatorParam

from mrjob_spark.dataflow.protocols import crossing
from mrjob_spark.materialize import materialize, scope
from mrjob_spark.dataflow.step import (
    GENERIC_ARGS,
    INPUT,
    OUTPUT,
    JarStep,
    MRStep,
    ProtocolPlan,
    SparkJarStep,
    SparkScriptStep,
    SparkStep,
    spool_stdin,
)

#: Hadoop codec classes for the compressed sink (S9;
#: cf. mrjob/spark/runner.py:446-454).
_CODECS = {
    "gzip": "org.apache.hadoop.io.compress.GzipCodec",
    "bzip2": "org.apache.hadoop.io.compress.BZip2Codec",
}


class CounterAccumulatorParam(AccumulatorParam):
    """Merge nested ``{group: {counter: amount}}`` dicts (A8)."""

    def zero(self, value):
        return {}

    def addInPlace(self, acc, other):
        for group, counters in other.items():
            dst = acc.setdefault(group, {})
            for name, amount in counters.items():
                dst[name] = dst.get(name, 0) + amount
        return acc


def _hash_bytes(b: bytes) -> int:
    """Deterministic partitioner hash — crc32 is stable across Python
    processes (unlike ``hash()``, which depends on PYTHONHASHSEED), so the
    same key always lands on the same reducer on a real cluster."""
    return zlib.crc32(b)


def _jobconf_env(jobconf: dict) -> dict:
    """Hadoop exposes jobconf to streaming tasks as env vars with dots
    mapped to underscores (``mrjob/sim.py:320-402``)."""
    return {str(k).replace(".", "_"): str(v) for k, v in jobconf.items()}


#: setup scripts already applied in THIS Python worker process (keyed by
#: content hash) — the in-process layer of the run-once guard below.
_SETUP_APPLIED: set = set()

#: map-side combine buffer: pairs held per partition before the spill-time
#: combiner runs (Hadoop's io.sort.mb analogue — bounds memory while still
#: collapsing duplicate keys before the shuffle)
_COMBINE_BUFFER = 1 << 17


#: the Python worker's cwd before any job chdir'd it — recorded on the
#: first _ensure_task_workdir call in each worker process, restored for
#: jobs that ship no uploads (workers are REUSED across jobs in one
#: SparkSession, so a sticky chdir would otherwise leak the previous
#: job's SparkFiles root into later jobs' relative-path reads; ADVICE r5)
_WORKER_HOME: "str | None" = None


def _ensure_task_workdir(want: bool) -> None:
    """Enter the task working directory when the job shipped uploads.

    Reference tasks run in a scratch dir where every FILES/ARCHIVES/DIRS
    entry appears under its basename (``mrjob/sim.py`` working-dir
    mirror), so example code does ``open('stop_words.txt')`` with a bare
    name — the documented side-file idiom. Spark's equivalent is the
    SparkFiles root (where ``addFile``/``addArchive`` materialize
    uploads), so when the job shipped anything the Python worker chdirs
    there before user code runs. Worker processes are per-executor,
    REUSED across jobs, and every task of one job targets the same
    directory — so upload jobs chdir in, and no-upload jobs chdir BACK to
    the worker's recorded original cwd, keeping behavior consistent
    across the jobs that share a worker. (Found by
    tests/test_reference_differential.py: the reference's own
    MRMostUsedWord example relies on this contract.)"""
    global _WORKER_HOME
    if _WORKER_HOME is None:
        try:
            _WORKER_HOME = os.getcwd()
        except OSError:  # inherited cwd already deleted
            _WORKER_HOME = tempfile.gettempdir()
    if want:
        try:
            from pyspark import SparkFiles

            root = SparkFiles.getRootDirectory()
            if os.path.isdir(root):
                os.chdir(root)
        except Exception:
            pass
    else:
        try:
            drifted = os.getcwd() != _WORKER_HOME
        except OSError:
            drifted = True
        if drifted and os.path.isdir(_WORKER_HOME):
            os.chdir(_WORKER_HOME)


def _ensure_task_setup(setup_lines: list, base_env: dict, nonce: str = "") -> None:
    """Run ``setup`` before the first Python substep on this executor.

    The reference wraps EVERY task — shell and Python alike — in the setup
    shell script, serialized per node with flock (``mrjob/bin.py:545-653``),
    so ``setup:`` can bootstrap a venv or download an asset that Python
    mapper code relies on. Python substeps here run inside Spark's Python
    worker, which can't be re-exec'd through a wrapper script, so the
    equivalent contract is a prologue:

    * the setup lines run in ``/bin/sh`` ONCE per node per distinct script
      (side effects like downloads/venvs happen once, not per task), under
      an flock'd lockfile exactly like the reference's wrapper;
    * the shell's resulting environment is captured (``env -0``) and every
      variable the script changed is replayed into the worker's
      ``os.environ``, so ``export``s reach Python substep code the same
      way they reach ``*_cmd`` subprocesses;
    * each worker process applies the replay once (module-level guard) —
      calls after the first are a set lookup.

    Shell substeps are unaffected: they still get the lines prefixed in
    their own subprocess shell (same-shell ``export`` semantics).
    """
    if not setup_lines:
        return
    import fcntl
    import hashlib
    import subprocess

    # the nonce is fresh per runner instance, so "once per node" means once
    # per JOB RUN per node (the reference re-runs its wrapper each job too),
    # not once per machine lifetime
    payload = (
        "\n".join(setup_lines) + "\0" + repr(sorted(base_env.items()))
        + "\0" + nonce
    )
    key = hashlib.md5(payload.encode("utf-8")).hexdigest()
    if key in _SETUP_APPLIED:
        return

    tmp = tempfile.gettempdir()
    lock_path = os.path.join(tmp, f"mrjob_spark_setup_{key}.lock")
    env_path = os.path.join(tmp, f"mrjob_spark_setup_{key}.env")
    run_env = dict(os.environ)
    run_env.update({str(k): str(v) for k, v in base_env.items()})

    with open(lock_path, "w") as lf:
        fcntl.flock(lf, fcntl.LOCK_EX)
        try:
            if not os.path.exists(env_path):
                script = "\n".join(setup_lines) + f'\nenv -0 > "{env_path}.tmp"'
                subprocess.run(
                    ["/bin/sh", "-c", script], env=run_env, check=True
                )
                os.replace(env_path + ".tmp", env_path)
        finally:
            fcntl.flock(lf, fcntl.LOCK_UN)

    with open(env_path, "rb") as fh:
        entries = fh.read().split(b"\0")
    captured = {}
    for item in entries:
        if b"=" in item:
            k, _, v = item.partition(b"=")
            captured[k.decode("utf-8", "replace")] = v.decode("utf-8", "replace")
    for k, v in captured.items():
        if k in ("_", "PWD", "SHLVL", "OLDPWD"):
            continue
        if run_env.get(k) != v:
            os.environ[k] = v
    _SETUP_APPLIED.add(key)


class SparkJobRunner:
    """Execute a :class:`~mrjob_spark.dataflow.job.SparkMRJob` on Spark.

    :param job: the job instance.
    :param spark: active ``SparkSession``.
    :param input_paths: text files/globs/dirs (``.gz``/``.bz2`` transparent,
        S1/S2); mutually exclusive with ``input_rdd``.
    :param input_rdd: an RDD of ``(key, value)`` pairs — the bridge from
        DataFrames (``df.rdd.map(...)``) into the dataflow engine.
    :param output_dir: if set, :meth:`run` writes ``part-*`` files there
        with ``OUTPUT_PROTOCOL`` (S8).
    :param num_reducers: shuffle partition count (``mapreduce.job.reduces``,
        ``mrjob/spark/runner.py:456-459``); defaults to
        ``spark.sql.shuffle.partitions``.
    :param max_output_files: coalesce the final stage to at most this many
        files (S11, ``mrjob/spark/harness.py:266-268``).
    :param compression: ``'gzip'`` or ``'bzip2'`` output codec (S9).
    :param partition_output_by_key: write output under ``key=<k>/``
        subdirectories like a partitioned OutputFormat (S10,
        ``mrjob/examples/mr_nick_nack.py:30-50``).
    :param emulate_map_input_file: expose the current input file to step-0
        mappers via ``$mapreduce_map_input_file`` (S5,
        ``mrjob/spark/harness.py:306-325``).
    :param jobconf: extra jobconf knobs merged over the job's own (the
        CLI's repeated ``--jobconf KEY=VALUE``).
    :param cmdenv: environment variables for ``*_cmd``/``*_pre_filter``
        task subprocesses, on top of the jobconf-derived vars (the
        reference's ``cmdenv`` runner opt; typically set via mrjob.conf —
        dataflow/conf.py).
    :param step_output_dir: materialize every non-final step's output as
        INTERNAL_PROTOCOL text under ``<dir>/000N/`` (the reference's
        ``--step-output-dir`` debugging aid, mrjob-opt step_output_dir).
        This is an explicit barrier with true Hadoop semantics — each next
        step re-reads the materialized files — trading the fused lazy plan
        for inspectable intermediates.
    :param setup: shell lines run before tasks — the reference's ``setup``
        opt (``mrjob/bin.py:545-653``), which wraps shell AND Python tasks.
        Shell substeps get the lines prefixed in their own subprocess shell
        (``export``s visible to the command); Python substeps get the
        flock'd once-per-node-per-run prologue with environment replay
        (:func:`_ensure_task_setup`), so a ``setup:`` that bootstraps state
        or exports variables reaches Python mapper/reducer code too.
    :param partition_func: ``f(key_bytes) -> int`` shuffle partitioner
        override (O1 in full); precedence: this kwarg > ``job.PARTITIONER``
        > crc32. Must be importable/picklable and deterministic across
        processes — no closure over ``hash()``.
    """

    def __init__(
        self,
        job,
        spark,
        input_paths: Optional[list] = None,
        input_rdd=None,
        output_dir: Optional[str] = None,
        num_reducers: Optional[int] = None,
        max_output_files: Optional[int] = None,
        compression: Optional[str] = None,
        partition_output_by_key: bool = False,
        emulate_map_input_file: bool = False,
        jobconf: Optional[dict] = None,
        conf_jobconf: Optional[dict] = None,
        cmdenv: Optional[dict] = None,
        setup: Optional[list] = None,
        step_output_dir: Optional[str] = None,
        partition_func=None,
    ):
        if input_paths is not None and input_rdd is not None:
            raise ValueError("pass input_paths or input_rdd, not both")
        self.job = job
        self.spark = spark
        self.input_paths = list(input_paths or [])
        self.input_rdd = input_rdd
        self.output_dir = output_dir
        self.max_output_files = max_output_files
        self.compression = compression
        self.partition_output_by_key = partition_output_by_key
        self.emulate_map_input_file = emulate_map_input_file
        self.partition_func = (
            partition_func
            if partition_func is not None
            else (getattr(job, "PARTITIONER", None) or _hash_bytes)
        )

        # precedence (mrjob/conf.py): conf file < class JOBCONF < per-step
        # jobconf < the jobconf kwarg (CLI --jobconf / explicit caller)
        merged = dict(conf_jobconf or {})
        merged.update(job.JOBCONF)
        for step in job.steps():
            merged.update(getattr(step, "jobconf", {}) or {})
        merged.update(jobconf or {})
        self._jobconf = merged
        self._cmdenv = dict(cmdenv or {})
        self._setup = list(setup or [])
        self._setup_nonce = uuid.uuid4().hex
        self.step_output_dir = step_output_dir
        if num_reducers is None:
            # variant-tolerant read (dataflow/compat.py): a job written
            # for Hadoop 1 sets mapred.reduce.tasks and still works
            from mrjob_spark.dataflow.compat import jobconf_from_dict

            jr = jobconf_from_dict(merged, "mapreduce.job.reduces")
            if jr is not None:
                num_reducers = int(jr)
        self.num_reducers = num_reducers

        self._counter_acc = spark.sparkContext.accumulator(
            {}, CounterAccumulatorParam()
        )
        job._counter_acc = self._counter_acc

        self._has_uploads = bool(
            job.FILES or getattr(job, "ARCHIVES", None) or getattr(job, "DIRS", None)
        )
        for path in job.FILES:
            spark.sparkContext.addFile(path)
        for path in getattr(job, "ARCHIVES", []) or []:
            # '#alias' names the unpack dir (mrjob/job.py:1432-1446); Spark's
            # addArchive honors the same fragment syntax.
            spark.sparkContext.addArchive(path)
        for path in getattr(job, "DIRS", []) or []:
            spark.sparkContext.addArchive(self._tar_dir(path))

        self._output_pairs = None
        self._ran = False

    def _task_env(self) -> dict:
        """Env for task subprocesses: Hadoop-style jobconf vars (dots to
        underscores, ``mrjob/sim.py:320-402``) with ``cmdenv`` entries on
        top (``mrjob/bin.py``'s cmdenv semantics: explicit wins)."""
        env = _jobconf_env(self._jobconf)
        env.update(self._cmdenv)
        return env

    @staticmethod
    def _tar_dir(path: str) -> str:
        """Pack a DIRS entry into a temp tar.gz shipped as
        ``<tmp>.tar.gz#<basename>`` so tasks see the directory under its own
        name (``mrjob/job.py:1448-1464`` unpacks into the task wd the same
        way). An optional ``#alias`` on the entry overrides the name."""
        import tarfile

        path, _, alias = path.partition("#")
        path = path.rstrip("/")
        alias = alias or os.path.basename(path)
        fd, tar_path = tempfile.mkstemp(suffix=".tar.gz")
        os.close(fd)
        with tarfile.open(tar_path, "w:gz") as tar:
            tar.add(path, arcname=".")
        return f"{tar_path}#{alias}"

    # ------------------------------------------------------------------
    # plan assembly
    # ------------------------------------------------------------------

    def _default_parallelism(self) -> int:
        if self.num_reducers:
            return self.num_reducers
        try:
            return int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        except Exception:
            return self.spark.sparkContext.defaultParallelism

    def _source_rdd(self, steps):
        """Step-0 input as a pair RDD, decoded with INPUT_PROTOCOL."""
        if self.input_rdd is not None:
            return self.input_rdd

        if not self.input_paths:
            raise ValueError("no input: pass input_paths or input_rdd")

        sc = self.spark.sparkContext
        first = steps[0]
        read = self.job.INPUT_PROTOCOL().read

        if isinstance(first, MRStep) and first.mapper_raw is not None:
            # S4: one whole file per mapper_raw() call. binaryFiles gives
            # (uri, bytes); hand the fn a local temp path + the uri, per
            # the mapper_raw contract (mrjob/job.py:365-374).
            return sc.binaryFiles(",".join(self.input_paths))

        if self.emulate_map_input_file:
            # S5: (path, line) pairs via input_file_name(), like
            # mrjob/spark/harness.py:306-325 but tracked per record.
            from pyspark.sql import functions as F

            df = self.spark.read.text(self.input_paths).select(
                F.input_file_name().alias("path"), "value"
            )
            return df.rdd.map(
                lambda row: (row.path, read(row.value.encode("utf-8")))
            )

        in_fmt = getattr(self.job, "HADOOP_INPUT_FORMAT", None)
        if in_fmt:
            # S6 on the dataflow path: the job names a Hadoop InputFormat
            # class (mrjob/job.py:1313-1322 passes it to -inputformat);
            # Hadoop streaming then feeds tasks the VALUES as lines, so the
            # keys are dropped and values decode with INPUT_PROTOCOL —
            # exactly what the reference harness does
            # (mrjob/spark/harness.py:242-252).
            pair = sc.newAPIHadoopFile(
                ",".join(self.input_paths),
                inputFormatClass=in_fmt,
                keyClass="org.apache.hadoop.io.LongWritable",
                valueClass="org.apache.hadoop.io.Text",
            )
            return pair.map(lambda kv: read(str(kv[1]).encode("utf-8")))

        # S1/S2: plain text lines; Spark decompresses .gz/.bz2 by extension.
        # S3 ('-' = stdin) never reaches here: output_pairs spools stdin to
        # a temp file first (mrjob/runner.py:1069-1088 does the same), so
        # every first-step shape — text, mapper_raw, Hadoop input format,
        # jar/script step 0 — reads it like any other path.
        lines = sc.textFile(",".join(self.input_paths))
        return lines.map(lambda line: read(line.encode("utf-8")))

    def output_pairs(self):
        """The composed (lazy) final pair RDD for the whole step chain."""
        if self._output_pairs is None:
            steps = self.job.steps()
            if self.input_rdd is None:
                self.input_paths = spool_stdin(self.job, self.input_paths)
            rdd = self._source_rdd(steps)
            plan = ProtocolPlan(self.job, steps)
            internal = self.job.INTERNAL_PROTOCOL()
            # wire the current native pairs "sit on": what a cmd substep
            # would receive as bytes / what the boundary crossing encodes
            wire, consumed = internal, False
            for step_num, step in enumerate(steps):
                is_last = step_num == len(steps) - 1
                if isinstance(step, SparkStep):
                    rdd = step.spark(self.spark, rdd)
                    wire, consumed = internal, False
                elif isinstance(step, JarStep):
                    rdd = self._run_jar_step(step, step_num, rdd)
                    wire, consumed = internal, False
                elif isinstance(step, (SparkScriptStep, SparkJarStep)):
                    rdd = self._run_spark_script_step(step, step_num, rdd)
                    wire, consumed = internal, False
                elif isinstance(step, MRStep):
                    rdd, wire, consumed = self._compile_step(
                        step, step_num, rdd, plan,
                        in_wire=wire, is_last=is_last,
                    )
                else:
                    raise TypeError(f"unknown step type: {type(step)!r}")
                if self.step_output_dir and not is_last:
                    rdd = self._materialize_step(rdd, step_num)
                    wire, consumed = internal, False
                elif not is_last and not consumed and wire is not None:
                    # non-final step output crosses its writer's wire into
                    # the next step's first script reader (INTERNAL both
                    # sides on default jobs; the writer's position-chosen
                    # protocol when it is the job's last script substep).
                    # When the next step leads with a cmd, skip — the
                    # pipe encodes from native pairs with `wire`.
                    nxt = steps[step_num + 1]
                    if isinstance(nxt, MRStep) and nxt.mapper_cmd is None:
                        target = (plan.read_for(step_num + 1, "mapper")
                                  or plan.read_for(step_num + 1, "reducer")
                                  or wire)
                        rdd = self._crossing_rdd(wire, target)(rdd)
                        wire = target
                    elif not isinstance(nxt, MRStep):
                        # jar/script steps materialize INTERNAL line files
                        # (documented engine contract)
                        rdd = self._crossing_rdd(wire, internal)(rdd)
                        wire = internal
            self._output_pairs = rdd
        return self._output_pairs

    def _materialize_step(self, rdd, step_num: int):
        """step_output_dir barrier: write this step's pairs as
        INTERNAL_PROTOCOL text under ``000N/`` and hand the NEXT step the
        re-read — Hadoop's between-step materialization made explicit
        (mrjob-opt ``step_output_dir``: "useful for debugging")."""
        proto = self.job.INTERNAL_PROTOCOL()
        write, read = proto.write, proto.read
        out_dir = os.path.join(self.step_output_dir, f"{step_num:04d}")
        rdd.map(lambda kv: write(*kv).decode("utf-8", "replace")).saveAsTextFile(
            out_dir
        )
        return self.spark.sparkContext.textFile(out_dir).map(
            lambda line: read(line.encode("utf-8"))
        )

    def _crossing_rdd(self, write_proto, read_proto):
        """Pair-transform RDD stage for one task-boundary wire crossing
        (``protocols.crossing``): the reference serializes between
        mapper/combiner/reducer/steps, so type-observing user code must
        see post-wire values (tuple→list under JSON, value-only protocols
        dropping keys) — the subprocess ``-r local`` runner gets this for
        free by moving real bytes; inline and this runner apply it
        explicitly (differential-pinned in
        test_reference_differential.py). JSON's fast path is two type
        checks per scalar pair; Pickle's is the identity."""
        rt = crossing(write_proto, read_proto)

        def make(rdd):
            def part(items: Iterable) -> Iterator:
                for k, v in items:
                    yield rt(k, v)

            return rdd.mapPartitions(part, preservesPartitioning=True)

        return make

    def _compile_step(self, step: MRStep, step_num: int, rdd, plan,
                      in_wire, is_last: bool = False):
        """Compile one MRStep, applying the reference's protocol-position
        wire semantics (``mrjob/job.py:983-1050``, see
        :class:`~mrjob_spark.dataflow.step.ProtocolPlan`): script substeps
        encode with their position-chosen protocol (last script substep →
        OUTPUT even when cmds follow), ``*_cmd`` substeps transform bytes
        on whatever wire they sit on, and type-observing user code sees
        post-wire values at every boundary the reference serializes.

        Returns ``(rdd, out_wire, consumed)`` — ``out_wire`` is the
        protocol the step's output bytes would carry (feeds the next
        step's cmd encode / boundary crossing); ``consumed`` means a
        terminal cmd's bytes were already decoded in their eventual
        consumer's terms, so no boundary crossing may be applied.
        """
        job = self.job
        enc = job.INTERNAL_PROTOCOL().encode_sort_key
        sort_values = bool(job.SORT_VALUES)
        env = self._task_env()
        raw_input_step = step_num == 0 and (
            self.input_rdd is None and self.input_paths
        )

        m_write = plan.write_for(step_num, "mapper")
        r_write = plan.write_for(step_num, "reducer")
        r_read = plan.read_for(step_num, "reducer")
        m_out = plan.mapper_output(step_num)
        script_reducer = step.has_reducer and step.reducer_cmd is None
        combinable = (
            step.combiner is not None
            and step.combiner_cmd is None
            and step.combiner_pre_filter is None
        )
        consumed = False

        # ---- mapper ----
        if step.mapper_cmd:
            # bytes out of a mapper cmd are read by: the combiner wire
            # (mapper-output proto = RawValue for cmd mappers), the script
            # reducer's read proto, a byte-faithful shuttle into a
            # reducer cmd, or — terminal — the next script substep
            # anywhere later in the job / final output parse.
            if combinable or step.reducer_cmd:
                decode = m_out
            elif script_reducer:
                decode = r_read
            else:
                decode = plan.cmd_decode(step_num, "mapper")
                consumed = True
            rdd = self._pipe_pairs(
                rdd, step.mapper_cmd, env,
                raw_lines=bool(raw_input_step), step_num=step_num,
                encode=in_wire, decode=decode,
            )
        elif step.has_mapper or step.has_combiner or step_num == 0:
            rdd = self._run_mapper(step, step_num, rdd, in_wire)
            # m_write is None when the step renders NO mapper substep
            # (step>0 reducer-only — the boundary crossing already landed
            # pairs on the reducer's wire; the identity pass adds none)
            if (combinable or script_reducer) and m_write is not None:
                # Python-mapper output crosses its write-protocol wire
                # before the combiner/reducer reads it (pipe mappers
                # moved real bytes). Mapper-ONLY steps skip this: the
                # reference writes them straight through their
                # position-chosen protocol (OUTPUT for the job's last
                # script substep — cat/collect apply that crossing) so an
                # extra INTERNAL crossing would be WRONG when the
                # protocols differ (JSON internal would mangle tuples a
                # pickle output preserves).
                rdd = self._crossing_rdd(
                    m_write, r_read if (script_reducer and not combinable)
                    else m_write)(rdd)

        # ---- combiner + shuffle ----
        needs_shuffle = step.has_reducer
        if combinable:
            # combineByKey both partially aggregates map-side AND shuffles;
            # the reference skips cmd/pre_filter combiners the same way
            # (combiners are optional by contract,
            # mrjob/spark/harness.py:344-360). The combiner sits on the
            # mapper-output wire (mrjob/job.py:1040-1044); its output
            # crosses into the reducer's read protocol.
            combiner_out = crossing(
                m_out, r_read if script_reducer else m_out)
            rdd = self._run_combiner(step, step_num, rdd, enc, sort_values,
                                     combiner_out)
            needs_shuffle = False
            reducer_ready = rdd
        elif needs_shuffle:
            # group on the byte-level group key of the wire the reducer
            # reads: for keyed wires the encoded key (unchanged); for a
            # script reducer behind a cmd mapper (value-only INPUT wire)
            # each distinct raw line is its own reduce group — Hadoop's
            # bytes-before-first-tab contract, differential-pinned in
            # test_job_shape_differential.py
            wire_r = (r_read if script_reducer else m_out) \
                or job.INTERNAL_PROTOCOL()
            reducer_ready = self._shuffle_and_sort(
                rdd, enc, sort_values, gk=wire_r.group_key)
        else:
            reducer_ready = None

        # ---- reducer ----
        if not step.has_reducer:
            if reducer_ready is not None:
                # combiner-only step: strip the shuffle key bookkeeping
                return (reducer_ready.map(lambda kb_kv: kb_kv[1],
                                          preservesPartitioning=True),
                        m_out, consumed)
            return rdd, (m_out if step.mapper_cmd else m_write), consumed
        if step.reducer_cmd:
            src = reducer_ready or self._shuffle_and_sort(rdd, enc, sort_values)

            def sort_part(items: Iterable) -> Iterator:
                # the reference feeds reducer cmds FULLY line-sorted
                # input (external sort of the map output): equal pairs
                # must arrive adjacent for uniq-style cmds — sort each
                # reduce partition by (enc k, enc v) regardless of
                # SORT_VALUES (the reference's reducer-task input is
                # materialized and sorted the same way)
                return iter(sorted(
                    (kv for _, kv in items),
                    key=lambda kv: (enc(kv[0]), enc(kv[1])),
                ))

            flat = src.mapPartitions(sort_part, preservesPartitioning=True)
            rdd = self._pipe_pairs(flat, step.reducer_cmd, env,
                                   raw_lines=False, step_num=step_num,
                                   encode=m_out,
                                   decode=plan.cmd_decode(step_num, "reducer"))
            return rdd, None, True
        wire_r = (r_read if script_reducer else m_out) or job.INTERNAL_PROTOCOL()
        rdd = self._run_reducer(
            step, step_num, reducer_ready,
            gk=wire_r.group_key, read_wire=wire_r,
        )
        return rdd, r_write, consumed

    # -- mapper ---------------------------------------------------------

    def _run_mapper(self, step: MRStep, step_num: int, rdd, in_wire=None):
        job = self.job
        mapper = step.mapper
        mapper_raw = step.mapper_raw
        mapper_init = step.mapper_init
        mapper_final = step.mapper_final
        attribute_files = self.emulate_map_input_file and step_num == 0
        raw_files = mapper_raw is not None and step_num == 0

        if step.mapper_pre_filter:
            # step-0 pre-filters see raw input lines (mrjob/job.py:353-363);
            # later steps see the incoming wire's encoded lines
            rdd = self._pipe_pairs(
                rdd, step.mapper_pre_filter, self._task_env(),
                raw_lines=(step_num == 0 and self.input_rdd is None),
                filter_only=True, step_num=step_num, encode=in_wire,
            )

        # setup prologue only when the step actually has Python substeps —
        # shell substeps get the lines in their own subprocess shell
        setup_lines = (
            list(self._setup)
            if (mapper or mapper_raw or mapper_init or mapper_final)
            else []
        )
        task_env = self._task_env()
        nonce = self._setup_nonce
        has_uploads = self._has_uploads

        def map_partition(items: Iterable) -> Iterator:
            _ensure_task_setup(setup_lines, task_env, nonce)
            _ensure_task_workdir(has_uploads)
            if mapper_init:
                yield from mapper_init() or ()

            if raw_files:
                # items: (uri, file_bytes) from binaryFiles
                for uri, blob in items:
                    os.environ["mapreduce_map_input_file"] = uri
                    with tempfile.NamedTemporaryFile(
                        delete=False, suffix=os.path.basename(uri)[-64:]
                    ) as tf:
                        tf.write(bytes(blob))
                        local = tf.name
                    try:
                        yield from mapper_raw(local, uri) or ()
                    finally:
                        os.unlink(local)
            elif attribute_files:
                # items: (path, (key, value))
                for path, (k, v) in items:
                    os.environ["mapreduce_map_input_file"] = path
                    if mapper is not None:
                        yield from mapper(k, v) or ()
                    else:
                        yield k, v
            else:
                for k, v in items:
                    if mapper is not None:
                        yield from mapper(k, v) or ()
                    else:
                        yield k, v  # identity mapper (mrjob/step.py:258-263)

            if mapper_final:
                yield from mapper_final() or ()

        return rdd.mapPartitions(map_partition)

    # -- combiner -------------------------------------------------------

    def _run_combiner(self, step: MRStep, step_num: int, rdd, enc,
                      sort_values, combiner_out=None):
        """Map-side partial aggregation + shuffle: a partition-level
        pre-combine, then ``combineByKey``.

        The pre-combine buffers each map partition's output in a
        per-encoded-key dict (bounded: flushed every ``_COMBINE_BUFFER``
        pairs, Hadoop's io.sort.mb idea) and runs the user combiner ONCE
        per key per flush — Hadoop's spill-time combiner. Without it every
        single mapper output pair paid a Python ``merge`` closure + list
        allocation inside ``combineByKey`` (measured on the naive-Bayes
        trainer at sf0.1: 822k mapper pairs → 6.3k after pre-combine;
        the full step dropped 1.4 s → 0.6 s, the classifier query 7.1 s
        → ~4 s). Running the combiner again during the shuffle merge is
        contract-clean: combiner output must be valid combiner input
        (``mrjob/job.py`` combiner docs), and the reference's own runners
        run combiners 0..N times per key too.

        Post-shuffle, values are lists of (key, value) pairs; two
        single-pair lists merge by running the user combiner, anything
        else concatenates — exactly the reference's handling of combiners
        that yield 0 or ≥2 pairs (``mrjob/spark/harness.py:466-489``).
        """
        combiner = step.combiner
        combiner_init = step.combiner_init
        combiner_final = step.combiner_final
        setup_lines = list(self._setup) if combiner else []
        task_env = self._task_env()
        nonce = self._setup_nonce
        has_uploads = self._has_uploads

        def combine_pairs(pairs: list) -> list:
            _ensure_task_setup(setup_lines, task_env, nonce)
            _ensure_task_workdir(has_uploads)
            out = []
            if combiner_init:
                out.extend(combiner_init() or ())
            for key, group in itertools.groupby(pairs, key=lambda kv: kv[0]):
                values = (v for _, v in group)
                out.extend(combiner(key, values) or ())
            if combiner_final:
                out.extend(combiner_final() or ())
            return out

        def merge(pairs1: list, pairs2: list) -> list:
            if len(pairs1) == 1 and len(pairs2) == 1:
                return combine_pairs(pairs1 + pairs2)
            pairs1.extend(pairs2)
            return pairs1

        def precombine_partition(pairs: Iterable) -> Iterator:
            _ensure_task_setup(setup_lines, task_env, nonce)
            _ensure_task_workdir(has_uploads)

            def flush(buf: dict) -> Iterator:
                if combiner_init:
                    yield from combiner_init() or ()
                for same_key in buf.values():
                    # all entries share one encoded key; hand the first
                    # pair's key object to the combiner, like the reducer
                    key = same_key[0][0]
                    yield from combiner(key, (v for _, v in same_key)) or ()
                if combiner_final:
                    yield from combiner_final() or ()

            buf: dict = {}
            n = 0
            for kv in pairs:
                buf.setdefault(enc(kv[0]), []).append(kv)
                n += 1
                if n >= _COMBINE_BUFFER:
                    yield from flush(buf)
                    buf, n = {}, 0
            if buf:
                yield from flush(buf)

        keyed = rdd.mapPartitions(precombine_partition).map(
            lambda kv: (enc(kv[0]), [kv])
        )
        combined = keyed.combineByKey(
            createCombiner=lambda pairs: pairs,
            mergeValue=merge,
            mergeCombiners=merge,
            numPartitions=self._default_parallelism(),
            partitionFunc=self.partition_func,
        )

        internal_enc = enc
        rt = combiner_out or self.job.INTERNAL_PROTOCOL().roundtrip

        def flatten(item):
            # combiner output crosses the wire again before the reducer
            kbytes, pairs = item
            pairs = [rt(k, v) for k, v in pairs]
            if sort_values:
                pairs = sorted(pairs, key=lambda kv: internal_enc(kv[1]))
            return [(kbytes, kv) for kv in pairs]

        # Same-key pairs stay adjacent within the partition — reducer-ready.
        return combined.flatMap(flatten, preservesPartitioning=True)

    # -- shuffle --------------------------------------------------------

    def _shuffle_and_sort(self, rdd, enc, sort_values, gk=None):
        """Return reducer-ready ``(key_bytes, (key, value))`` with same-key
        adjacency, partitioned by key hash and sorted by (key_bytes[,
        value_bytes]) — Hadoop's shuffle, expressed as
        ``repartitionAndSortWithinPartitions`` so downstream grouping is
        streaming, not materialized. ``gk`` is the byte-level group-key
        function of the wire the reducer READS
        (:meth:`Protocol.group_key` — Hadoop groups on
        bytes-before-first-tab, so a value-only wire groups per distinct
        line); defaults to the encoded key."""
        if gk is None:
            gk = lambda k, v: enc(k)  # noqa: E731
        if sort_values:
            keyed = rdd.map(lambda kv: ((gk(kv[0], kv[1]), enc(kv[1])), kv))
        else:
            keyed = rdd.map(lambda kv: ((gk(kv[0], kv[1]), b""), kv))

        pf = self.partition_func  # plain local: the closure must not drag
        # the runner (and its unpicklable SparkSession) into the task
        shuffled = keyed.repartitionAndSortWithinPartitions(
            numPartitions=self._default_parallelism(),
            partitionFunc=lambda composite: pf(composite[0]),
            ascending=True,
            keyfunc=lambda composite: composite,
        )
        return shuffled.map(
            lambda item: (item[0][0], item[1]), preservesPartitioning=True
        )

    # -- reducer --------------------------------------------------------

    def _run_reducer(self, step: MRStep, step_num: int, reducer_ready,
                     gk=None, read_wire=None):
        reducer = step.reducer
        reducer_init = step.reducer_init
        reducer_final = step.reducer_final
        setup_lines = (
            list(self._setup)
            if (reducer or reducer_init or reducer_final)
            else []
        )
        task_env = self._task_env()
        nonce = self._setup_nonce
        has_uploads = self._has_uploads

        if step.reducer_pre_filter:
            flat = reducer_ready.map(lambda kb_kv: kb_kv[1])
            # encode with the wire the reducer READS (r_read), not
            # INTERNAL: the pairs were decoded into r_read's domain, and
            # the reference filters the byte lines the reducer task reads
            # (ADVICE r6)
            filtered = self._pipe_filter(flat, step.reducer_pre_filter,
                                         step_num=step_num,
                                         encode=read_wire)
            enc = self.job.INTERNAL_PROTOCOL().encode_sort_key
            reducer_ready = self._shuffle_and_sort(
                filtered, enc, bool(self.job.SORT_VALUES), gk=gk
            )

        def reduce_partition(items: Iterable) -> Iterator:
            _ensure_task_setup(setup_lines, task_env, nonce)
            _ensure_task_workdir(has_uploads)
            if reducer_init:
                yield from reducer_init() or ()

            for _, group in itertools.groupby(items, key=lambda x: x[0]):
                kbytes, (key, first_value) = next(group)
                values = itertools.chain(
                    (first_value,), (kv[1] for _, kv in group)
                )
                if reducer is not None:
                    yield from reducer(key, values) or ()
                else:
                    for v in values:
                        yield key, v

            if reducer_final:
                yield from reducer_final() or ()

        return reducer_ready.mapPartitions(
            reduce_partition, preservesPartitioning=True
        )

    # -- shell substeps (P4/P5/X5) --------------------------------------

    def _pipe_pairs(self, rdd, cmd: str, env: dict, raw_lines: bool = False,
                    filter_only: bool = False, step_num: int = 0,
                    encode=None, decode=None):
        """Run encoded lines through a shell command (``mrjob/job.py:340-363``):
        encode pairs → ``rdd.pipe`` → decode.

        ``raw_lines``: encode/decode with INPUT_PROTOCOL (step-0 lines) rather
        than INTERNAL. ``filter_only``: the command passes lines through
        unchanged or drops them (a ``*_pre_filter``), so surviving lines decode
        with the SAME protocol they were encoded with. ``encode``/``decode``
        are protocol instances overriding the wire each side of the cmd sits
        on (the reference's protocol-position rule — e.g. a terminal cmd's
        stdout decodes with OUTPUT_PROTOCOL because it IS the job output).
        """
        internal = self.job.INTERNAL_PROTOCOL()
        edge = self.job.INPUT_PROTOCOL() if raw_lines else (encode or internal)
        write = edge.write
        read = edge.read if (filter_only or not raw_lines) else internal.read
        if raw_lines and not filter_only:
            # cmd over raw input emits NEW encoded pairs → internal decode
            read = internal.read
        if decode is not None and not filter_only:
            read = decode.read

        # Always through a shell, like the reference (mrjob/bin.py:236-245
        # builds `sh -ex -c` pipelines): bare rdd.pipe only shlex-splits,
        # which would silently break `cmd1 | cmd2` pipelines and $VAR
        # references that work on every mrjob runner. Round 6 moves from
        # rdd.pipe to a subprocess per partition for the one thing
        # rdd.pipe cannot do: capture the command's STDERR, which is
        # Hadoop streaming's counter side-channel — `reporter:counter:
        # g,n,amount` lines from a *_cmd must reach runner.counters()
        # (mrjob/parse.py:111-150; PipeMapRed's incrCounter contract).
        # Same streaming shape: a writer thread feeds stdin while stdout
        # is consumed lazily, so neither side buffers the partition.
        full_cmd = "; ".join([*self._setup, cmd])
        acc = self._counter_acc

        def pipe_partition(items: Iterable) -> Iterator:
            import subprocess
            import threading

            proc = subprocess.Popen(
                ["/bin/sh", "-c", full_cmd],
                stdin=subprocess.PIPE,
                stdout=subprocess.PIPE,
                stderr=subprocess.PIPE,
                env={**os.environ, **env},
            )

            def feed():
                try:
                    for kv in items:
                        proc.stdin.write(write(*kv) + b"\n")
                    proc.stdin.close()
                except BrokenPipeError:
                    pass  # command exited early (e.g. head); fine

            stderr_buf = []

            def drain_stderr():
                stderr_buf.append(proc.stderr.read())

            t_in = threading.Thread(target=feed, daemon=True)
            t_err = threading.Thread(target=drain_stderr, daemon=True)
            t_in.start()
            t_err.start()
            for line in proc.stdout:
                line = line.rstrip(b"\r\n")
                if line:
                    yield read(line)
            t_in.join()
            t_err.join()
            proc.wait()  # rc ignored, like rdd.pipe's default (grep rc=1)
            from mrjob_spark.dataflow.step import parse_reporter_stderr

            _, _, other = parse_reporter_stderr(
                b"".join(stderr_buf), add=acc.add
            )
            import sys as _sys

            for ln in other:
                _sys.stderr.buffer.write(ln + b"\n")

        return rdd.mapPartitions(pipe_partition)

    def _pipe_filter(self, rdd, cmd: str, step_num: int, encode=None):
        """Shell predicate in front of a substep (``mrjob/job.py:353-363``):
        lines that survive the command continue as pairs. ``encode``
        overrides the wire the filtered lines sit on (a reducer
        pre-filter sits on the reducer's READ wire)."""
        return self._pipe_pairs(
            rdd, cmd, self._task_env(),
            raw_lines=False, filter_only=True, step_num=step_num,
            encode=encode,
        )

    def _run_spark_script_step(self, step, step_num: int, rdd):
        """X6 external-app forms (``mrjob/step.py:473-571``): run a
        standalone pyspark script (:class:`SparkScriptStep`) or a JVM
        Spark app (:class:`SparkJarStep` — ``--class`` + jar) via
        ``spark-submit`` over materialized step IO — same barrier
        semantics and INPUT/OUTPUT interpolation as the jar step, with
        ``jobconf`` as ``--conf`` pairs and ``spark_args`` passed
        through. The child app runs on the same master as this session
        unless spark_args overrides it. Free-form apps (no OUTPUT
        sentinel in args — the ``mrjob spark-submit`` tool's shape)
        manage their own IO: nothing is materialized for them and the
        chain continues empty."""
        import shutil
        import subprocess

        scratch = tempfile.mkdtemp(prefix=f"mrjob_spark_script_{step_num}_")
        out_dir = os.path.join(scratch, "output")  # must NOT exist yet
        step_args = [str(a) for a in step.args]
        uses_input = any(INPUT in a for a in step_args)
        uses_output = any(OUTPUT in a for a in step_args)

        if not uses_input:
            in_arg = ""
        elif step_num == 0 and self.input_rdd is None and self.input_paths:
            in_arg = ",".join(p for p in self.input_paths if p != "-")
        else:
            write = self.job.INTERNAL_PROTOCOL().write
            in_dir = os.path.join(scratch, "input")
            rdd.map(
                lambda kv: write(*kv).decode("utf-8", "replace")
            ).saveAsTextFile(in_dir)
            in_arg = in_dir

        args = [
            a.replace(INPUT, in_arg).replace(OUTPUT, out_dir)
            for a in step_args
        ]
        submit = shutil.which("spark-submit") or os.path.join(
            os.environ.get("SPARK_HOME", "/opt/spark"), "bin", "spark-submit"
        )
        cmd = [submit]
        spark_args = [str(a) for a in step.spark_args]
        if "--master" not in spark_args:
            cmd += ["--master", self.spark.conf.get("spark.master", "local[2]")]
        cmd += spark_args
        for k, v in step.jobconf.items():
            cmd += ["--conf", f"{k}={v}"]
        target = step.submit_target()
        cmd += target + args

        # Python script apps route through the pooled submit host (round
        # 13): the ~10.5 s spark-submit client JVM boot is a fixed cost
        # of the LOCAL mock, amortized exactly once per (prefix) like a
        # long-lived gateway would — the script itself still executes in
        # full per submission (see dataflow/submit_pool.py for the whole
        # argument). JVM jar apps (--class + jar) and any prefix whose
        # host fails to start (a test's fake spark-submit) take the
        # classic one-shot path below.
        if len(target) == 1 and str(target[0]).endswith(".py"):
            from mrjob_spark.dataflow import submit_pool

            client = submit_pool.get_client(tuple(cmd[: -len(target + args)]))
            if client is not None:
                try:
                    reply, out, err = client.run(str(target[0]), args)
                except submit_pool._HostDied:
                    client = None  # fall through to one-shot
                else:
                    self.spark_submit_stdout = out
                    self.spark_submit_stderr = err
                    if not reply.get("ok"):
                        raise RuntimeError(
                            f"spark app step {step_num} failed "
                            f"(rc={reply.get('rc')}): {' '.join(cmd)}\n"
                            f"{(reply.get('err') or err)[-2000:]}"
                        )
            if client is not None:
                if not uses_output:
                    return self.spark.sparkContext.emptyRDD()
                read = self.job.INTERNAL_PROTOCOL().read
                lines = self.spark.sparkContext.textFile(out_dir)
                return lines.map(lambda line: read(line.encode("utf-8")))

        proc = subprocess.run(cmd, capture_output=True, text=True)
        self.spark_submit_stdout = proc.stdout
        self.spark_submit_stderr = proc.stderr
        if proc.returncode != 0:
            raise RuntimeError(
                f"spark app step {step_num} failed (rc={proc.returncode}): "
                f"{' '.join(cmd)}\n{proc.stderr[-2000:]}"
            )

        if not uses_output:
            return self.spark.sparkContext.emptyRDD()
        read = self.job.INTERNAL_PROTOCOL().read
        lines = self.spark.sparkContext.textFile(out_dir)
        return lines.map(lambda line: read(line.encode("utf-8")))

    def _run_jar_step(self, step: JarStep, step_num: int, rdd):
        """X7 JVM jar step (``mrjob/step.py:421-460``;
        arg interpolation per ``mrjob/runner.py:971-990``).

        The jar runs as a driver-side JVM subprocess over materialized
        step IO — an explicit barrier in the otherwise-lazy chain,
        mirroring Hadoop's between-step HDFS writes (the reference's own
        local/inline runners refuse jar steps entirely; only its Hadoop
        runner executes them). Protocol boundaries match cmd substeps:
        the jar reads INPUT_PROTOCOL-encoded lines when it is step 0 on
        file input (where mrjob hands the raw input URIs straight to the
        jar — same here, zero copy), INTERNAL_PROTOCOL lines otherwise,
        and its output is decoded with INTERNAL_PROTOCOL. ``jobconf``
        entries become ``-D`` JVM system properties."""
        import shutil
        import subprocess

        scratch = tempfile.mkdtemp(prefix=f"mrjob_spark_jar_{step_num}_")
        out_dir = os.path.join(scratch, "output")  # must NOT exist yet

        if step_num == 0 and self.input_rdd is None and self.input_paths:
            in_arg = ",".join(p for p in self.input_paths if p != "-")
        else:
            write = self.job.INTERNAL_PROTOCOL().write
            in_dir = os.path.join(scratch, "input")
            rdd.map(
                lambda kv: write(*kv).decode("utf-8", "replace")
            ).saveAsTextFile(in_dir)
            in_arg = in_dir

        props = [f"-D{k}={v}" for k, v in step.jobconf.items()]
        args, generic_spliced = [], False
        for a in step.args:
            if a == GENERIC_ARGS:
                args.extend(props)  # program args at the sentinel position
                generic_spliced = True
            else:
                args.append(
                    str(a).replace(INPUT, in_arg).replace(OUTPUT, out_dir)
                )
        java = os.path.join(os.environ.get("JAVA_HOME", ""), "bin", "java")
        if not os.path.exists(java):
            java = shutil.which("java") or "java"
        cmd = [java]
        if not generic_spliced:
            cmd += props  # JVM system properties otherwise
        if step.main_class:
            cmd += ["-cp", step.jar, step.main_class]
        else:
            cmd += ["-jar", step.jar]
        cmd += args
        proc = subprocess.run(cmd, capture_output=True, text=True)
        if proc.returncode != 0:
            raise RuntimeError(
                f"jar step {step_num} failed (rc={proc.returncode}): "
                f"{' '.join(cmd)}\n{proc.stderr[-2000:]}"
            )

        read = self.job.INTERNAL_PROTOCOL().read
        lines = self.spark.sparkContext.textFile(out_dir)
        return lines.map(lambda line: read(line.encode("utf-8")))

    # ------------------------------------------------------------------
    # execution & output
    # ------------------------------------------------------------------

    def run(self):
        """Execute the composed plan. Writes ``part-*`` files when
        ``output_dir`` is set; otherwise persists the result in memory for
        :meth:`cat_output`. Either way this is the action that makes
        counters observable.

        On failure, a concise "Probable cause of failure" summary —
        extracted from the Python traceback buried in Spark's Java error
        text, the reference's ``mrjob/logs/errors.py:25-212`` behavior —
        is attached to the exception as a note; the raw error is left
        intact underneath."""
        try:
            return self._run()
        except Exception as e:
            from mrjob_spark.dataflow.errors import explain_failure

            try:
                e.add_note(
                    "\nProbable cause of failure:\n\n" + explain_failure(e)
                )
            except Exception:
                pass  # never let explanation failure mask the real error
            raise

    def _run(self):
        # the merge barriers below live only as long as the write
        with scope():
            self._write(self.output_pairs())
        self._ran = True
        return self

    def _write(self, pairs) -> None:
        def merged(lines_rdd):
            """``coalesce(max_output_files)`` with a materialization
            barrier. A bare coalesce(1) narrows the WHOLE upstream
            pipeline into one task — the naive-Bayes trainer's two
            mapper/combiner/reducer steps ran serially in the single
            output task (measured 5.3 s vs 1.8 s of parallel compute at
            sf0.1). Persist + count computes the pipeline at full
            parallelism; the merged write then just concatenates cached
            partitions, preserving their order (repartition(1) would
            scramble it). Spill-safe: post-reduce output, MEMORY_AND_DISK."""
            from pyspark import StorageLevel

            return materialize(
                lines_rdd, StorageLevel.MEMORY_AND_DISK, eager=True
            ).coalesce(self.max_output_files)

        if self.output_dir:
            write = self.job.OUTPUT_PROTOCOL().write
            out_fmt = getattr(self.job, "HADOOP_OUTPUT_FORMAT", None)
            if out_fmt:
                # S10 generalized: the job names a Hadoop OutputFormat
                # (mrjob/job.py:1324-1342, -outputformat). Streaming hands
                # the format (key, value) Text pairs split on the encoded
                # line's first tab — reproduce that contract so
                # TextOutputFormat round-trips through OUTPUT_PROTOCOL and
                # key-routing formats (the nicknack family) see real keys.
                def _kv(kv):
                    line = write(*kv).decode("utf-8", "replace")
                    k, sep, v = line.partition("\t")
                    return (k, v) if sep else (line, "")

                kv_rdd = pairs.map(_kv)
                if self.max_output_files:
                    kv_rdd = merged(kv_rdd)
                kv_rdd.saveAsNewAPIHadoopFile(
                    self.output_dir,
                    out_fmt,
                    keyClass="org.apache.hadoop.io.Text",
                    valueClass="org.apache.hadoop.io.Text",
                )
            elif self.partition_output_by_key:
                # S10: key=<k>/part-* layout via the DataFrame writer; the
                # schema is explicit, as inferring it runs a job over the
                # first partition of the whole pipeline
                df = pairs.map(
                    lambda kv: (str(kv[0]), write(None, kv[1]).decode("utf-8", "replace"))
                ).toDF("key string, value string")
                if self.max_output_files:
                    # same barrier rationale as merged(); DataFrame form
                    df = materialize(df, eager=True).coalesce(
                        self.max_output_files
                    )
                writer = df.write.mode("overwrite").partitionBy("key")
                if self.compression:
                    writer = writer.option("compression", self.compression)
                writer.text(self.output_dir)
            else:
                lines = pairs.map(
                    lambda kv: write(*kv).decode("utf-8", "replace")
                )
                if self.max_output_files:
                    lines = merged(lines)
                lines.saveAsTextFile(
                    self.output_dir,
                    _CODECS[self.compression] if self.compression else None,
                )
        else:
            # runner-lifetime result, released by __exit__
            self._cached = pairs.persist()
            self._cached.count()

    def cat_output(self) -> Iterator:
        """Yield output ``(key, value)`` pairs. With an ``output_dir``,
        re-reads the part files (skipping ``_*``/``.*`` per Hadoop
        convention, ``mrjob/runner.py:512-556``) and decodes them with
        OUTPUT_PROTOCOL; otherwise iterates the persisted result."""
        if not self._ran:
            self.run()
        # prefetchPartitions overlaps the per-partition fetch jobs with
        # driver-side consumption (still bounded memory — one partition in
        # flight ahead of the iterator — vs collect()'s whole-result
        # materialization). Without it each partition is a serial job
        # round-trip: ~1.5 s of pure scheduling latency on a 32-partition
        # result, measured in compare_reference.py.
        if self.output_dir:
            read = self.job.OUTPUT_PROTOCOL().read
            lines = self.spark.sparkContext.textFile(self.output_dir)
            for line in lines.toLocalIterator(prefetchPartitions=True):
                yield read(line.encode("utf-8"))
        else:
            # in-memory results see OUTPUT_PROTOCOL's wire semantics too,
            # like the part-file branch above (reference parse_output
            # always reads real output bytes)
            rt = self.job.OUTPUT_PROTOCOL().roundtrip
            for k, v in self._cached.toLocalIterator(prefetchPartitions=True):
                yield rt(k, v)

    def collect_output(self) -> list:
        """All output pairs in ONE driver fetch (a single job) — the bulk
        twin of :meth:`cat_output`. Iterating 32 result partitions through
        ``toLocalIterator`` costs a job round-trip per partition (~1.4 s of
        pure scheduling for a 31-row wordcount result, measured); when the
        result is known to fit the driver, ``collect`` pays one. At real
        scale keep :meth:`cat_output`'s bounded streaming or write to a
        sink instead."""
        if not self._ran:
            self.run()
        if self.output_dir:
            read = self.job.OUTPUT_PROTOCOL().read
            lines = self.spark.sparkContext.textFile(self.output_dir)
            return [read(line.encode("utf-8")) for line in lines.collect()]
        rt = self.job.OUTPUT_PROTOCOL().roundtrip
        return [rt(k, v) for k, v in self._cached.collect()]

    def counters(self) -> dict:
        """Accumulated ``{group: {counter: amount}}`` after :meth:`run`."""
        return self._counter_acc.value

    def to_dataframe(self, schema, row_fn=None):
        """Bridge the (lazy) output pairs into a DataFrame. ``row_fn(k, v)``
        maps a pair to a row tuple (default ``(k, v)``)."""
        fn = row_fn or (lambda k, v: (k, v))
        return self.spark.createDataFrame(
            self.output_pairs().map(lambda kv: fn(kv[0], kv[1])), schema=schema
        )

    # context manager: unpersist cached output on exit
    @property
    def fs(self) -> "HadoopFilesystem":
        """Driver-side filesystem facade, the reference's ``runner.fs``
        (``mrjob/runner.py`` exposes a composite fs; here one Hadoop-conf
        facade covers every scheme the session can reach)."""
        from mrjob_spark.fs import HadoopFilesystem

        return HadoopFilesystem(self.spark)

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        if getattr(self, "_cached", None) is not None:
            try:
                self._cached.unpersist()
            except Exception:
                pass
        return False
