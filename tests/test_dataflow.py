"""Dataflow-API semantics tests — ports of the reference's probe-job corpus
(``tests/spark/test_harness.py:244-504`` and ``tests/mr_*.py`` behaviors),
asserted against our Spark-native engine.
"""

from __future__ import annotations

import gzip
import os

import pytest

from mrjob_spark.dataflow import (
    JSONProtocol,
    MRStep,
    SparkMRJob,
    TextProtocol,
)
from mrjob_spark.dataflow.examples import (
    MRCustomerOrderDates,
    MRDoubler,
    MRFilterGrep,
    MRMostUsedWord,
    MRPreFilterWords,
    MRWordCountWithCounters,
    MRWordFreqCount,
)

LINES = [
    "the quick brown fox jumps over the lazy dog",
    "the dog barks",
    "The Fox and the Hound",
]
EXPECTED_THE = 5


def pair_rdd(spark, lines, parts=3):
    return spark.sparkContext.parallelize([(None, l) for l in lines], parts)


# ---------------------------------------------------------------------------
# core contracts
# ---------------------------------------------------------------------------


def test_wordcount_with_combiner(spark):
    with MRWordFreqCount().make_runner(
        spark, input_rdd=pair_rdd(spark, LINES)
    ) as r:
        out = dict(r.cat_output())
    assert out["the"] == EXPECTED_THE
    assert out["dog"] == 2
    assert out["hound"] == 1


def test_two_step_chain(spark):
    with MRMostUsedWord().make_runner(
        spark, input_rdd=pair_rdd(spark, LINES)
    ) as r:
        out = list(r.cat_output())
    assert out == [([EXPECTED_THE, "the"], None)] or out == [((EXPECTED_THE, "the"), None)]


def test_doubler_n_steps(spark):
    rdd = spark.sparkContext.parallelize([("a", 1), ("b", 5)], 2)
    with MRDoubler(n=4).make_runner(spark, input_rdd=rdd) as r:
        assert dict(r.cat_output()) == {"a": 16, "b": 80}


def test_mapper_only_job(spark):
    class MRUpper(SparkMRJob):
        def mapper(self, _, line):
            yield None, line.upper()

    with MRUpper().make_runner(spark, input_rdd=pair_rdd(spark, ["ab", "cd"])) as r:
        assert sorted(v for _, v in r.cat_output()) == ["AB", "CD"]


def test_reducer_only_job(spark):
    class MRGroup(SparkMRJob):
        def reducer(self, key, values):
            yield key, sorted(values)

    rdd = spark.sparkContext.parallelize(
        [("k1", 3), ("k2", 9), ("k1", 1)], 3
    )
    with MRGroup().make_runner(spark, input_rdd=rdd) as r:
        out = dict(r.cat_output())
    assert out == {"k1": [1, 3], "k2": [9]}


def test_init_final_hooks_emit_pairs(spark):
    """mapper_init/final may themselves yield pairs (mrjob/job.py:311-338)."""

    class MRBracketed(SparkMRJob):
        def mapper_init(self):
            yield "init", 1

        def mapper(self, _, line):
            yield "data", 1

        def mapper_final(self):
            yield "final", 1

        def reducer(self, key, values):
            yield key, sum(values)

    with MRBracketed().make_runner(
        spark, input_rdd=pair_rdd(spark, ["x", "y"], parts=2)
    ) as r:
        out = dict(r.cat_output())
    assert out["data"] == 2
    # hooks run once per partition
    assert out["init"] == 2
    assert out["final"] == 2


def test_lazy_reducer_values_stream(spark):
    """Reducer value iterators must be lazy — consuming only the head of a
    huge group must not materialize it (SURVEY §7.3 risk 1)."""

    class MRHead(SparkMRJob):
        def reducer(self, key, values):
            yield key, next(iter(values))

    rdd = spark.sparkContext.parallelize(
        [("hot", i) for i in range(50_000)], 8
    )
    with MRHead().make_runner(spark, input_rdd=rdd) as r:
        out = dict(r.cat_output())
    assert "hot" in out


# ---------------------------------------------------------------------------
# combiner edge cases (tests/spark/test_harness.py:360-456)
# ---------------------------------------------------------------------------


def test_combiner_yields_zero_pairs(spark):
    """A combiner may eat pairs entirely; the engine must not crash or
    duplicate (harness combiner_helper edge case)."""

    class MRDropSmall(SparkMRJob):
        def mapper(self, _, line):
            for w in line.split():
                yield w, 1

        def combiner(self, word, counts):
            total = sum(counts)
            if total >= 2:
                yield word, total

        def reducer(self, word, counts):
            yield word, sum(counts)

    lines = ["a a b", "a b c"]
    with MRDropSmall().make_runner(
        spark, input_rdd=pair_rdd(spark, lines, parts=1)
    ) as r:
        out = dict(r.cat_output())
    # combiners run 0..n times by contract; since the round-6 spill-time
    # pre-combine, EVERY key of a map partition passes through the
    # combiner exactly like the reference's sim runners, which run one
    # combiner pass over each map task's full sorted output
    # (mrjob/sim.py:251-285) — so the 0-yield combiner eats singleton
    # "c" here too, matching `-r inline`/`-r local` (our inline runner
    # included; previously the Spark path diverged from both by riding
    # the reference Spark harness's merge-only combine,
    # mrjob/spark/harness.py:490-495).
    assert out == {"a": 3, "b": 2}


def test_combiner_yields_two_pairs(spark):
    """A combiner may emit >1 pair; later merges must concatenate instead of
    re-running the combiner on mismatched shapes."""

    class MRSplitEmit(SparkMRJob):
        def mapper(self, _, line):
            for w in line.split():
                yield w, 1

        def combiner(self, word, counts):
            yield word, sum(counts)
            yield word, 0  # extra pair, harmless for the final sum

        def reducer(self, word, counts):
            yield word, sum(counts)

    lines = ["x x y", "x y y", "x y x"]
    with MRSplitEmit().make_runner(
        spark, input_rdd=pair_rdd(spark, lines, parts=3)
    ) as r:
        out = dict(r.cat_output())
    assert out == {"x": 5, "y": 4}


def test_combiner_counts_match_no_combiner(spark):
    """Differential: same job with and without combiner agrees (the harness
    comparison-test pattern, tests/spark/test_harness.py:244-300)."""

    class MRNoCombiner(SparkMRJob):
        def mapper(self, _, line):
            for w in line.split():
                yield w, 1

        def reducer(self, word, counts):
            yield word, sum(counts)

    rdd = pair_rdd(spark, LINES)
    with MRWordFreqCount().make_runner(spark, input_rdd=pair_rdd(spark, LINES)) as r1:
        with_comb = dict(r1.cat_output())
    with MRNoCombiner().make_runner(spark, input_rdd=rdd) as r2:
        without = dict(r2.cat_output())
    # tokenizers differ slightly (WORD_RE lowercases); compare via lowercase split
    assert with_comb["the"] == 5
    assert without["the"] == 4  # "The" kept as-is without lowering
    assert with_comb["dog"] == without["dog"] == 2


# ---------------------------------------------------------------------------
# SORT_VALUES / secondary sort (O3)
# ---------------------------------------------------------------------------


def test_sort_values_orders_encoded(spark):
    rdd = spark.sparkContext.parallelize(
        [(1, "b"), (1, "a"), (2, "z"), (1, "c"), (2, "y")], 4
    )
    with MRCustomerOrderDates().make_runner(spark, input_rdd=rdd) as r:
        out = dict(r.cat_output())
    assert out == {1: "a,b,c", 2: "y,z"}


def test_sort_values_with_combiner(spark):
    class MRSortedConcat(SparkMRJob):
        SORT_VALUES = True

        def combiner(self, key, values):
            yield from ((key, v) for v in values)  # pass-through

        def reducer(self, key, values):
            yield key, "".join(values)

    rdd = spark.sparkContext.parallelize(
        [("k", "c"), ("k", "a"), ("k", "b")], 3
    )
    with MRSortedConcat().make_runner(spark, input_rdd=rdd) as r:
        assert dict(r.cat_output()) == {"k": "abc"}


# ---------------------------------------------------------------------------
# counters (A8; tests/spark/test_harness.py:457-504)
# ---------------------------------------------------------------------------


def test_counters(spark):
    with MRWordCountWithCounters().make_runner(
        spark, input_rdd=pair_rdd(spark, LINES)
    ) as r:
        r.run()
        counters = r.counters()
    assert counters["stats"]["lines"] == 3
    assert counters["stats"]["words"] == sum(
        len(l.lower().split()) for l in LINES
    )


def test_counters_in_reducer(spark):
    class MRReduceCount(SparkMRJob):
        def mapper(self, _, line):
            yield line[0], line

        def reducer(self, key, values):
            n = len(list(values))
            self.increment_counter("groups", "seen")
            self.increment_counter("groups", "values", n)
            yield key, n

    with MRReduceCount().make_runner(
        spark, input_rdd=pair_rdd(spark, ["ax", "ay", "bz"])
    ) as r:
        r.run()
        c = r.counters()
    assert c["groups"]["seen"] == 2
    assert c["groups"]["values"] == 3


# ---------------------------------------------------------------------------
# text IO: sources/sinks/compression/cat (S1/S2/S8/S9/S11/S12)
# ---------------------------------------------------------------------------


def test_text_file_roundtrip(spark, tmp_path):
    inp = tmp_path / "in.txt"
    inp.write_text("\n".join(LINES) + "\n")
    out_dir = str(tmp_path / "out")

    with MRWordFreqCount().make_runner(
        spark, input_paths=[str(inp)], output_dir=out_dir, max_output_files=2
    ) as r:
        r.run()
        parts = [f for f in os.listdir(out_dir) if f.startswith("part-")]
        assert 1 <= len(parts) <= 2  # S11 file-count control
        out = dict(r.cat_output())  # S12 cat skips _SUCCESS
    assert out["the"] == EXPECTED_THE


def test_gzip_source_and_sink(spark, tmp_path):
    inp = tmp_path / "in.txt.gz"
    with gzip.open(inp, "wt") as f:
        f.write("\n".join(LINES) + "\n")
    out_dir = str(tmp_path / "out_gz")

    with MRWordFreqCount().make_runner(
        spark, input_paths=[str(inp)], output_dir=out_dir, compression="gzip"
    ) as r:
        r.run()
        assert any(f.endswith(".gz") for f in os.listdir(out_dir))
        out = dict(r.cat_output())
    assert out["the"] == EXPECTED_THE


def test_partitioned_output_by_key(spark, tmp_path):
    out_dir = str(tmp_path / "by_key")

    class MRByFirstLetter(SparkMRJob):
        def mapper(self, _, line):
            for w in line.split():
                yield w[0], w

    with MRByFirstLetter().make_runner(
        spark,
        input_rdd=pair_rdd(spark, ["apple bee", "ant cat"]),
        output_dir=out_dir,
        partition_output_by_key=True,
    ) as r:
        r.run()
    subdirs = {d for d in os.listdir(out_dir) if d.startswith("key=")}
    assert subdirs == {"key=a", "key=b", "key=c"}


@pytest.mark.parametrize("layout", ["output_format", "by_key"])
def test_merged_output_runs_the_pipeline_once(spark, tmp_path, layout):
    """``max_output_files`` merges through ONE materialization barrier.
    The OutputFormat and partition-by-key writers have their own, so
    they must not also run the text writer's: that computed the whole
    pipeline a second time, which counters (accumulators) show."""

    class MRTicked(SparkMRJob):
        def mapper(self, _, line):
            self.increment_counter("t", "lines")
            for w in line.split():
                yield w[0], w

    opts = {}
    if layout == "output_format":
        MRTicked.HADOOP_OUTPUT_FORMAT = (
            "org.apache.hadoop.mapreduce.lib.output.TextOutputFormat"
        )
    else:
        opts["partition_output_by_key"] = True
    with MRTicked().make_runner(
        spark,
        input_rdd=pair_rdd(spark, LINES),
        output_dir=str(tmp_path / "out"),
        max_output_files=1,
        **opts,
    ) as r:
        r.run()
        assert r.counters() == {"t": {"lines": len(LINES)}}


def test_mapper_raw_whole_files(spark, tmp_path):
    """S4: one mapper_raw call per input file, with S5 file attribution."""
    for i, body in enumerate(["alpha beta", "gamma"]):
        (tmp_path / f"doc{i}.txt").write_text(body)

    class MRFileWordTotal(SparkMRJob):
        def mapper_raw(self, local_path, uri):
            with open(local_path) as f:
                words = f.read().split()
            yield os.path.basename(uri), len(words)

    with MRFileWordTotal().make_runner(
        spark, input_paths=[str(tmp_path / "*.txt")]
    ) as r:
        out = dict(r.cat_output())
    assert out == {"doc0.txt": 2, "doc1.txt": 1}


def test_input_file_attribution(spark, tmp_path):
    (tmp_path / "a.txt").write_text("one\n")
    (tmp_path / "b.txt").write_text("two\n")

    class MRWhichFile(SparkMRJob):
        def mapper(self, _, line):
            yield os.path.basename(
                os.environ.get("mapreduce_map_input_file", "")
            ), line

    with MRWhichFile().make_runner(
        spark,
        input_paths=[str(tmp_path / "*.txt")],
        emulate_map_input_file=True,
    ) as r:
        out = dict(r.cat_output())
    assert out == {"a.txt": "one", "b.txt": "two"}


# ---------------------------------------------------------------------------
# shell substeps (P4/P5/X5)
# ---------------------------------------------------------------------------


def test_mapper_cmd_grep(spark, tmp_path):
    inp = tmp_path / "in.txt"
    inp.write_text("apple pie\nbanana split\napple cake\n")

    with MRFilterGrep("apple").make_runner(spark, input_paths=[str(inp)]) as r:
        values = sorted(v for _, v in r.cat_output())
    assert values == ["apple cake", "apple pie"]


def test_mapper_pre_filter(spark, tmp_path):
    inp = tmp_path / "in.txt"
    inp.write_text("umbrella rain\nsunny day\nfun run\n")

    with MRPreFilterWords().make_runner(spark, input_paths=[str(inp)]) as r:
        out = dict(r.cat_output())
    # "sunny day" was filtered out before the mapper (contains no 'u'... it
    # does contain 'u'! 's-u-nny'). grep -i u keeps lines WITH u: umbrella
    # rain, sunny day, fun run all contain u → mapper then keeps u-words.
    assert out == {"umbrella": 1, "sunny": 1, "fun": 1, "run": 1}


# ---------------------------------------------------------------------------
# protocols at the edges
# ---------------------------------------------------------------------------


def test_output_protocol_json_roundtrip(spark, tmp_path):
    out_dir = str(tmp_path / "json_out")

    class MRStructured(SparkMRJob):
        OUTPUT_PROTOCOL = JSONProtocol

        def mapper(self, _, line):
            yield {"k": line}, [1, line]

    with MRStructured().make_runner(
        spark, input_rdd=pair_rdd(spark, ["a", "b"]), output_dir=out_dir
    ) as r:
        out = sorted(r.cat_output(), key=repr)
    assert out == [({"k": "a"}, [1, "a"]), ({"k": "b"}, [1, "b"])]


def test_text_protocol_output(spark, tmp_path):
    out_dir = str(tmp_path / "text_out")

    class MRTsv(SparkMRJob):
        OUTPUT_PROTOCOL = TextProtocol

        def mapper(self, _, line):
            yield line, line.upper()

    with MRTsv().make_runner(
        spark, input_rdd=pair_rdd(spark, ["ab"]), output_dir=out_dir
    ) as r:
        out = list(r.cat_output())
    assert out == [("ab", "AB")]


def test_spark_escape_hatch(spark):
    """X6: free-form spark() step (mrjob/job.py:478-493)."""

    class MRSparkStep(SparkMRJob):
        def spark(self, spark_session, input_rdd):
            return input_rdd.mapValues(lambda v: v * 10)

    rdd = spark.sparkContext.parallelize([("a", 1), ("b", 2)], 2)
    with MRSparkStep().make_runner(spark, input_rdd=rdd) as r:
        assert dict(r.cat_output()) == {"a": 10, "b": 20}


def test_step_validation():
    with pytest.raises(ValueError):
        MRStep()  # no substeps
    with pytest.raises(ValueError):
        MRStep(mapper=lambda k, v: None, mapper_cmd="cat")


# ---------------------------------------------------------------------------
# CLI entry point (mrjob/job.py:601-687: `python my_job.py <input...>`)
# ---------------------------------------------------------------------------


def test_cli_run_matches_programmatic(spark, tmp_path, capsysbinary):
    inp = tmp_path / "in.txt"
    inp.write_text("\n".join(LINES) + "\n")
    out_dir = str(tmp_path / "cli_out")

    # argv path: input positional, -o, --num-reducers
    MRWordFreqCount.run(
        args=[str(inp), "-o", out_dir, "--num-reducers", "2"], spark=spark
    )
    with MRWordFreqCount().make_runner(
        spark, input_paths=[str(inp)]
    ) as prog:
        expected = dict(prog.cat_output())

    read = MRWordFreqCount.OUTPUT_PROTOCOL().read
    got = {}
    for name in sorted(os.listdir(out_dir)):
        if name.startswith(("_", ".")):
            continue
        with open(os.path.join(out_dir, name), "rb") as fh:
            for line in fh:
                k, v = read(line.rstrip(b"\n"))
                got[k] = v
    assert got == expected
    # part-file count respects --num-reducers
    parts = [n for n in os.listdir(out_dir) if n.startswith("part-")]
    assert len(parts) == 2


def test_cli_cats_output_to_stdout(spark, tmp_path, capsysbinary):
    inp = tmp_path / "in.txt"
    inp.write_text("a b a\n")
    MRWordFreqCount.run(args=[str(inp)], spark=spark)
    captured = capsysbinary.readouterr().out
    read = MRWordFreqCount.OUTPUT_PROTOCOL().read
    got = dict(read(l) for l in captured.splitlines() if l)
    assert got == {"a": 2, "b": 1}


def test_cli_jobconf_sets_num_reducers(spark, tmp_path):
    inp = tmp_path / "in.txt"
    inp.write_text("x y z\n")
    out_dir = str(tmp_path / "jc_out")
    MRWordFreqCount.run(
        args=[str(inp), "-o", out_dir, "--jobconf", "mapreduce.job.reduces=3",
              "--no-cat-output"],
        spark=spark,
    )
    parts = [n for n in os.listdir(out_dir) if n.startswith("part-")]
    assert len(parts) == 3


def test_cli_passthru_args(spark, tmp_path, capsysbinary):
    class MRMinLen(SparkMRJob):
        def configure_args(self, parser):
            parser.add_argument("--min-len", type=int, default=1)

        def mapper(self, _, line):
            for w in line.lower().split():
                if len(w) >= self.options.min_len:
                    yield w, 1

        def reducer(self, word, counts):
            yield word, sum(counts)

    inp = tmp_path / "in.txt"
    inp.write_text("a bb ccc\n")
    MRMinLen.run(args=[str(inp), "--min-len", "2"], spark=spark)
    captured = capsysbinary.readouterr().out
    read = MRMinLen.OUTPUT_PROTOCOL().read
    got = dict(read(l) for l in captured.splitlines() if l)
    assert got == {"bb": 1, "ccc": 1}


# ---------------------------------------------------------------------------
# ARCHIVES / DIRS distributed cache (mrjob/job.py:1432-1464)
# ---------------------------------------------------------------------------


def _make_tar(tmp_path, name, files):
    import tarfile

    src = tmp_path / f"{name}_src"
    src.mkdir()
    for fname, content in files.items():
        (src / fname).write_text(content)
    tar_path = str(tmp_path / f"{name}.tar.gz")
    with tarfile.open(tar_path, "w:gz") as tar:
        for fname in files:
            tar.add(str(src / fname), arcname=fname)
    return tar_path


def test_archives_unpacked_for_tasks(spark, tmp_path):
    tar_path = _make_tar(tmp_path, "stop", {"stopwords.txt": "the\na\n"})

    class MRStopFiltered(SparkMRJob):
        ARCHIVES = [tar_path + "#stopbundle"]

        def mapper_init(self):
            with open(
                os.path.join(self.archive_path("stopbundle"), "stopwords.txt")
            ) as fh:
                self._stop = set(fh.read().split())

        def mapper(self, _, line):
            for w in line.lower().split():
                if w not in self._stop:
                    yield w, 1

        def reducer(self, word, counts):
            yield word, sum(counts)

    with MRStopFiltered().make_runner(
        spark, input_rdd=pair_rdd(spark, ["the quick fox", "a quick dog"])
    ) as r:
        out = dict(r.cat_output())
    assert out == {"quick": 2, "fox": 1, "dog": 1}


def test_dirs_shipped_whole(spark, tmp_path):
    d = tmp_path / "conf"
    d.mkdir()
    (d / "threshold.txt").write_text("2")

    class MRThreshold(SparkMRJob):
        DIRS = [str(d)]

        def mapper_init(self):
            with open(os.path.join(self.archive_path("conf"),
                                   "threshold.txt")) as fh:
                self._min = int(fh.read())

        def mapper(self, _, line):
            for w in line.split():
                if len(w) >= self._min:
                    yield w, 1

        def reducer(self, word, counts):
            yield word, sum(counts)

    with MRThreshold().make_runner(
        spark, input_rdd=pair_rdd(spark, ["a bb ccc"])
    ) as r:
        out = dict(r.cat_output())
    assert out == {"bb": 1, "ccc": 1}


# ---------------------------------------------------------------------------
# pluggable partitioner (O1 in full; mrjob/job.py:1390-1408)
# ---------------------------------------------------------------------------


def test_custom_partitioner_routes_keys(spark):
    # defined locally so cloudpickle ships them by value (test modules are
    # not importable on executors)
    def first_byte_partitioner(key_bytes: bytes) -> int:
        return key_bytes[0] if key_bytes else 0

    class MRPartitionedCount(SparkMRJob):
        PARTITIONER = staticmethod(first_byte_partitioner)

        def mapper(self, _, line):
            for w in line.split():
                yield w, 1

        def reducer(self, word, counts):
            from pyspark import TaskContext

            # tag every key with the partition that reduced it
            yield word, (TaskContext.get().partitionId(), sum(counts))

    with MRPartitionedCount().make_runner(
        spark,
        input_rdd=pair_rdd(spark, ["apple apricot banana", "banana cherry"]),
        num_reducers=4,
    ) as r:
        out = dict(r.cat_output())
    enc = MRPartitionedCount.INTERNAL_PROTOCOL().encode_sort_key
    for word, (pid, n) in out.items():
        assert pid == first_byte_partitioner(enc(word)) % 4, word
    assert out["banana"][1] == 2


def test_lib_json_protocol_variants_roundtrip():
    # UltraJSON/SimpleJSON/RapidJSON fall back to stdlib json when the
    # library is absent (mrjob/protocol.py:160-281); all must round-trip
    # byte-compatibly with the default JSONProtocol.
    from mrjob_spark.dataflow import (
        JSONProtocol,
        RapidJSONProtocol,
        SimpleJSONProtocol,
        StandardJSONProtocol,
        UltraJSONProtocol,
    )

    pair = ({"k": [1, 2]}, ["v", None, 3.5])
    base = JSONProtocol()
    for cls in (UltraJSONProtocol, SimpleJSONProtocol, RapidJSONProtocol,
                StandardJSONProtocol):
        p = cls()
        line = p.write(*pair)
        assert p.read(line) == pair
        assert base.read(line) == pair  # cross-library byte compat


def test_value_only_protocol_roundtrips_erase_the_key():
    # ADVICE r6 (medium): every value-only wire must roundtrip to
    # (None, value-as-decoded) — no subclass may inherit a key-preserving
    # fast path from its pair-protocol parent. The reference-runnable
    # protocols are differential-pinned in test_reference_differential.py;
    # this pins the whole family including the libjson fallbacks the
    # reference side can't run in this container.
    from mrjob_spark.dataflow import protocols as p

    cases = [
        (p.JSONValueProtocol(), ("k", (1, "a")), (None, [1, "a"])),
        (p.PickleValueProtocol(), ("k", (1, "a")), (None, (1, "a"))),
        (p.ReprValueProtocol(), ("k", (1, "a")), (None, (1, "a"))),
        (p.BytesValueProtocol(), (b"k", b"v"), (None, b"v")),
        (p.TextValueProtocol(), ("k", "v"), (None, "v")),
        (p.UltraJSONValueProtocol(), ("k", (1, "a")), (None, [1, "a"])),
        (p.SimpleJSONValueProtocol(), ("k", (1, "a")), (None, [1, "a"])),
        (p.RapidJSONValueProtocol(), ("k", (1, "a")), (None, [1, "a"])),
        (p.StandardJSONValueProtocol(), ("k", (1, "a")), (None, [1, "a"])),
    ]
    for proto, (k, v), want in cases:
        got = proto.roundtrip(k, v)
        assert got == want, f"{type(proto).__name__}.roundtrip: {got} != {want}"
        # and the slow path (actual wire bytes) must agree with roundtrip
        assert proto.read(proto.write(k, v)) == want, type(proto).__name__


# ---------------------------------------------------------------------------
# failure paths (the reference's tests/mr_boom.py probe): user-code
# exceptions must propagate out of both runners with the original message
# ---------------------------------------------------------------------------


def _make_boom():
    # defined inside a function so cloudpickle serializes the class by
    # value (test modules aren't importable on executors)
    class MRBoom(SparkMRJob):
        """Mapper raises on a marked record (cf. reference tests/mr_boom.py)."""

        def mapper(self, key, value):
            if value == "boom":
                raise ValueError("planted failure: boom record")
            yield key, value

    return MRBoom


def test_user_exception_propagates_from_spark_runner(spark):
    rdd = spark.sparkContext.parallelize(
        [(None, "ok"), (None, "boom"), (None, "fine")], 2
    )
    import py4j.protocol

    with pytest.raises(Exception) as exc_info:
        with _make_boom()().make_runner(spark, input_rdd=rdd) as r:
            list(r.cat_output())
    # the planted message must survive into the driver-side error (PySpark
    # wraps worker tracebacks; Py4J errors carry it in the Java exception)
    err = exc_info.value
    text = str(err)
    if isinstance(err, py4j.protocol.Py4JJavaError):
        text = str(err.java_exception)
    assert "planted failure: boom record" in text


def test_user_exception_propagates_from_inline_runner():
    with pytest.raises(ValueError, match="planted failure: boom record"):
        with _make_boom()().make_inline_runner(
            input_pairs=[(None, "ok"), (None, "boom")]
        ) as r:
            r.run()


def test_jar_step_runs_real_jvm_process_between_steps(spark):
    """X7: a jar compiled from Java source runs between two streaming
    steps, INPUT/OUTPUT interpolated, its effect visible through the
    following shuffle (uppercased keys re-aggregate)."""
    from mrjob_spark.dataflow.examples import MRWordFreqJarUpper
    from mrjob_spark.dataflow.jartools import (
        UPPERCASE_LINES_JAVA,
        compile_jar,
        have_jdk,
    )

    if not have_jdk():
        pytest.skip("no JDK (javac/jar) on PATH")
    jar = compile_jar(UPPERCASE_LINES_JAVA, "UpperCaseLines")
    rdd = spark.sparkContext.parallelize(
        [(None, "apple banana apple"), (None, "banana cherry")], 2
    )
    with MRWordFreqJarUpper(jar).make_runner(spark, input_rdd=rdd) as r:
        got = dict(r.collect_output())
    assert got == {"APPLE": 2, "BANANA": 2, "CHERRY": 1}
    # step description surfaces the jar like the reference's (type 'jar')
    descs = [s.description(i) for i, s in enumerate(MRWordFreqJarUpper(jar).steps())]
    assert descs[1]["type"] == "jar" and descs[1]["main_class"] == "UpperCaseLines"


def test_jar_step_failure_raises_with_stderr(spark):
    from mrjob_spark.dataflow.job import SparkMRJob
    from mrjob_spark.dataflow.jartools import have_jdk
    from mrjob_spark.dataflow.step import INPUT, OUTPUT, JarStep, MRStep

    if not have_jdk():
        pytest.skip("no JDK (javac/jar) on PATH")

    class MRBadJar(SparkMRJob):
        def steps(self):
            return [
                MRStep(mapper=self.mapper),
                JarStep(jar="/nonexistent.jar", args=[INPUT, OUTPUT]),
            ]

        def mapper(self, k, v):
            yield k, v

    rdd = spark.sparkContext.parallelize([(None, "x")], 1)
    with pytest.raises(RuntimeError, match="jar step 1 failed"):
        MRBadJar().make_runner(spark, input_rdd=rdd).run()


def test_explain_failure_gives_concise_cause_for_failing_mapper(spark):
    """r3 verdict #8: the raw Spark error for a failing mapper is hundreds
    of Java lines; explain_failure must reduce it to the planted exception
    line plus the user frame (mrjob/logs/errors.py:25-212 parity), and
    run() must attach that as an exception note."""
    from mrjob_spark.dataflow.errors import explain_failure

    rdd = spark.sparkContext.parallelize([(None, "ok"), (None, "boom")], 2)
    with pytest.raises(Exception) as exc_info:
        with _make_boom()().make_runner(spark, input_rdd=rdd) as r:
            r.run()
    cause = explain_failure(exc_info.value)
    assert "ValueError: planted failure: boom record" in cause
    assert "in mapper" in cause  # deepest USER frame, not pyspark plumbing
    assert len(cause.splitlines()) <= 5, cause  # concise, not a log dump
    notes = getattr(exc_info.value, "__notes__", [])
    assert any("Probable cause of failure" in n for n in notes)
    assert any("planted failure: boom record" in n for n in notes)


def test_extract_probable_cause_prefers_user_traceback():
    from mrjob_spark.dataflow.errors import extract_probable_cause

    text = "\n".join(
        [
            "org.apache.spark.SparkException: Job aborted due to stage failure:",
            "Traceback (most recent call last):",
            '  File "/opt/pyspark/worker.py", line 1000, in main',
            "    process()",
            "RuntimeError: framework wrapper",
            "junk java frames ...",
            "Traceback (most recent call last):",
            '  File "/opt/pyspark/worker.py", line 1000, in main',
            "    process()",
            '  File "/home/me/my_job.py", line 12, in mapper',
            "    raise ValueError('bad record')",
            "ValueError: bad record",
            "\tat org.apache.spark.scheduler.DAGScheduler...",
        ]
    )
    cause = extract_probable_cause(text)
    assert cause is not None
    assert cause.startswith("ValueError: bad record")
    assert "line 12 of /home/me/my_job.py, in mapper" in cause


def test_extract_probable_cause_none_without_traceback():
    from mrjob_spark.dataflow.errors import (
        explain_failure,
        extract_probable_cause,
    )

    assert extract_probable_cause("pure java OOM, no python") is None
    # fallback still yields something useful
    assert "boom" in explain_failure(ValueError("boom"))


def test_collect_output_matches_cat_output(spark):
    rdd = spark.sparkContext.parallelize(
        [(None, "a b a"), (None, "b c")], 2
    )
    with MRWordFreqCount().make_runner(spark, input_rdd=rdd) as r:
        assert sorted(r.collect_output()) == sorted(r.cat_output())
        assert dict(r.collect_output()) == {"a": 2, "b": 2, "c": 1}


def test_steps_flag_prints_descriptions_and_exits(capsys):
    # the reference's --steps introspection (mrjob/job.py:914-930): runners
    # call it to learn the step graph without executing anything
    import json

    from mrjob_spark.dataflow.examples import MRNextWordStats

    result = MRNextWordStats().execute(args=["--steps"])
    assert result is None  # no runner was built
    desc = json.loads(capsys.readouterr().out)
    assert isinstance(desc, list) and len(desc) >= 2
    assert all(d.get("type") for d in desc)


def test_hadoop_input_and_output_format_job_attrs(spark, tmp_path):
    # S6/S10 on the dataflow path: HADOOP_INPUT_FORMAT reads values
    # through newAPIHadoopFile (keys dropped, like Hadoop streaming);
    # HADOOP_OUTPUT_FORMAT writes tab-split (key, value) Text pairs
    # through saveAsNewAPIHadoopFile. TextInput/TextOutput must round-trip
    # identically to the plain text path.
    from mrjob_spark.dataflow.examples import MRWordFreqCount

    inp = tmp_path / "in.txt"
    inp.write_text("apple banana apple\nbanana apple cherry\n")

    class MRHadoopFmt(MRWordFreqCount):
        HADOOP_INPUT_FORMAT = (
            "org.apache.hadoop.mapreduce.lib.input.TextInputFormat"
        )
        HADOOP_OUTPUT_FORMAT = (
            "org.apache.hadoop.mapreduce.lib.output.TextOutputFormat"
        )

    out = str(tmp_path / "out")
    runner = MRHadoopFmt().make_runner(
        spark, input_paths=[str(inp)], output_dir=out
    )
    runner.run()
    got = dict(runner.cat_output())

    plain = MRWordFreqCount().make_runner(spark, input_paths=[str(inp)])
    plain.run()
    assert got == dict(plain.cat_output())
    assert got["apple"] == 3


def test_add_file_arg_ships_file_and_rewrites_option(spark, tmp_path, capsys):
    # the reference's add_file_arg contract (mrjob/job.py:1131-1179): the
    # option's value is a file uploaded to every task, and the parsed
    # value is rewritten to the task-visible name — the stop-words side
    # file of mr_most_used_word, via the CLI
    from mrjob_spark.dataflow import RawValueProtocol, SparkMRJob

    class MRStopFiltered(SparkMRJob):
        INPUT_PROTOCOL = RawValueProtocol
        OUTPUT_PROTOCOL = RawValueProtocol

        def configure_args(self, parser):
            self.add_file_arg("--stop-words-file")

        def mapper_init(self):
            with open(self.file_path(self.options.stop_words_file)) as fh:
                self.stop = set(fh.read().split())

        def mapper(self, _, line):
            for w in line.split():
                if w not in self.stop:
                    yield None, w

    stop = tmp_path / "stop.txt"
    stop.write_text("the a\n")
    inp = tmp_path / "in.txt"
    inp.write_text("the quick a fox\n")

    job = MRStopFiltered()
    job.execute(
        args=[str(inp), "--no-conf", "--stop-words-file", str(stop)],
        spark=spark,
    )
    out = capsys.readouterr().out
    assert sorted(line for line in out.splitlines() if line) == [
        "fox", "quick"
    ]
    assert job.options.stop_words_file == "stop.txt"

    # and identically under the inline runner (file_path falls back to
    # the FILES entry's original path — no distributed cache in-process)
    job2 = MRStopFiltered()
    job2.execute(
        args=[str(inp), "-r", "inline", "--no-conf",
              "--stop-words-file", str(stop)],
    )
    out2 = capsys.readouterr().out
    assert sorted(line for line in out2.splitlines() if line) == [
        "fox", "quick"
    ]


def test_sandbox_and_pair_methods_testing_surface(spark):
    # the reference's documented testing idioms (docs/guides/testing.rst,
    # mrjob/job.py:798-894, 1597-1656): single-substep unit calls via
    # map_pairs/reduce_pairs, and a sandboxed stdin-to-stdout run
    import io

    from mrjob_spark.dataflow.examples import MRWordFreqCount

    job = MRWordFreqCount()
    # one mapper call's worth of pairs
    mapped = list(job.map_pairs([(None, "apple banana apple")]))
    assert sorted(mapped) == [("apple", 1), ("apple", 1), ("banana", 1)]
    # reducer over key-grouped pairs; values arrive as a lazy iterator
    reduced = list(job.reduce_pairs([("apple", 2), ("apple", 1), ("b", 1)]))
    assert sorted(reduced) == [("apple", 3), ("b", 1)]

    # sandboxed end-to-end: stdin feeds '-', stdout captures output
    job2 = MRWordFreqCount().sandbox(
        stdin=io.BytesIO(b"apple banana\nbanana apple apple\n")
    )
    job2.execute(args=["-", "-r", "inline", "--no-conf"])
    out = job2.stdout.getvalue().decode("utf-8")
    got = dict(
        (k.strip('"'), int(v))
        for k, v in (line.split("\t") for line in out.splitlines() if line)
    )
    assert got == {"apple": 3, "banana": 2}


def test_sandbox_spark_runner_stdin(spark):
    import io

    from mrjob_spark.dataflow.examples import MRWordFreqCount

    job = MRWordFreqCount().sandbox(stdin=io.BytesIO(b"apple apple\n"))
    runner = job.make_runner(spark, input_paths=["-"])
    runner.run()
    assert dict(runner.cat_output()) == {"apple": 2}


def test_sandbox_stdin_reaches_mapper_raw(spark):
    # '-' + mapper_raw: stdin is spooled to a temp file up front
    # (spool_stdin), so path-consuming first steps see the data instead of
    # silently processing no input — on BOTH runners
    import io

    class MRByteCount(SparkMRJob):
        def mapper_raw(self, local_path, uri):
            with open(local_path, "rb") as f:
                yield "bytes", len(f.read())

    job = MRByteCount().sandbox(stdin=io.BytesIO(b"hello world\n"))
    runner = job.make_runner(spark, input_paths=["-"])
    runner.run()
    assert dict(runner.cat_output()) == {"bytes": 12}

    job = MRByteCount().sandbox(stdin=io.BytesIO(b"hello world\n"))
    with job.make_inline_runner(input_paths=["-"]) as r:
        r.run()
        assert dict(r.cat_output()) == {"bytes": 12}


def test_parse_output_decodes_byte_chunks():
    # mrjob/job.py:634-646: job.parse_output over raw output bytes,
    # including lines split across chunk boundaries
    from mrjob_spark.dataflow.examples import MRWordFreqCount

    job = MRWordFreqCount()
    payload = b'"apple"\t3\n"banana"\t2\n'
    for chunks in ([payload], [payload[:9], payload[9:]]):
        assert dict(job.parse_output(iter(chunks))) == {
            "apple": 3, "banana": 2,
        }


def test_reference_programmatic_pattern(tmp_path):
    # the reference's canonical programmatic API (mrjob/job.py:89-99,
    # 689-736): construct with argv, make_runner() with no arguments,
    # run inside a with-block, read output — zero Spark for -r inline
    from mrjob_spark.dataflow.examples import MRWordFreqCount

    inp = tmp_path / "in.txt"
    inp.write_text("apple banana\napple\n")

    job = MRWordFreqCount(["-r", "inline", "--no-conf", str(inp)])
    with job.make_runner() as runner:
        runner.run()
        assert dict(runner.cat_output()) == {"apple": 2, "banana": 1}


def test_combine_pairs_testing_surface():
    # combiner twin of reduce_pairs over key-grouped input
    from mrjob_spark.dataflow.examples import MRWordFreqCount

    job = MRWordFreqCount()
    got = sorted(job.combine_pairs([("a", 1), ("a", 1), ("b", 1)]))
    assert got == [("a", 2), ("b", 1)]


def test_cli_logs_counters_to_stderr(tmp_path):
    # the reference prints "Counters: N" + sorted group/name=value lines
    # after each run (mrjob/logs/counters.py:19-33)
    import io

    from mrjob_spark.dataflow.examples import MRWordCountWithCounters

    inp = tmp_path / "in.txt"
    inp.write_text("one two\nthree\n")
    job = MRWordCountWithCounters().sandbox()
    job.execute(args=[str(inp), "-r", "inline", "--no-conf"])
    err = job.stderr.getvalue().decode("utf-8")
    assert err.startswith("Counters: ")
    assert "=" in err


def test_step_output_dir_materializes_intermediates(spark, tmp_path):
    # the reference's --step-output-dir (configs-all-runners.rst): every
    # non-final step's output lands under 000N/ as INTERNAL_PROTOCOL
    # lines, and the final answer is unchanged by the barriers
    import os

    from mrjob_spark.dataflow.examples import MRMostUsedWord

    inp = tmp_path / "in.txt"
    inp.write_text("apple banana apple\nbanana apple\n")

    sod = str(tmp_path / "steps")
    runner = MRMostUsedWord().make_runner(
        spark, input_paths=[str(inp)], step_output_dir=sod
    )
    runner.run()
    got = list(runner.cat_output())

    plain = MRMostUsedWord().make_runner(spark, input_paths=[str(inp)])
    plain.run()
    # compare ENCODED output: the materialization round-trips pairs
    # through INTERNAL_PROTOCOL JSON (tuples become lists), exactly like
    # the reference's between-step encoding — the bytes are what matter
    enc = MRMostUsedWord.OUTPUT_PROTOCOL().write
    assert [enc(*kv) for kv in got] == [
        enc(*kv) for kv in plain.cat_output()
    ]

    step0 = os.path.join(sod, "0000")
    assert os.path.isdir(step0)
    assert any(f.startswith("part-") for f in os.listdir(step0))
    assert not os.path.isdir(os.path.join(sod, "0001"))  # final not dumped


def test_spark_script_step_runs_external_script(spark, tmp_path):
    # X6 SparkScriptStep (mrjob/step.py:517-571): a standalone pyspark
    # script chained after a streaming step via spark-submit, INPUT/OUTPUT
    # interpolated — wordcount, then the script uppercases the words
    import textwrap

    from mrjob_spark.dataflow import (
        INPUT,
        OUTPUT,
        MRStep,
        SparkMRJob,
        SparkScriptStep,
    )

    script = tmp_path / "upper.py"
    script.write_text(textwrap.dedent("""
        import sys
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.getOrCreate()
        inp, out = sys.argv[1], sys.argv[2]
        (spark.sparkContext.textFile(inp)
            .map(lambda line: line.upper())
            .saveAsTextFile(out))
        spark.stop()
    """))

    class MRWordsUpper(SparkMRJob):
        def steps(self):
            return [
                MRStep(mapper=self.m, reducer=self.r),
                SparkScriptStep(
                    script=str(script), args=[INPUT, OUTPUT]
                ),
            ]

        def m(self, _, line):
            for w in line.split():
                yield w, 1

        def r(self, w, counts):
            yield w, sum(counts)

    inp = tmp_path / "in.txt"
    inp.write_text("apple banana apple\n")
    runner = MRWordsUpper().make_runner(spark, input_paths=[str(inp)])
    runner.run()
    got = dict(runner.cat_output())
    assert got == {"APPLE": 2, "BANANA": 1}


def test_two_job_naive_bayes_matches_relational_classifier(spark, tmp_path):
    # the reference's flagship example shape (mr_text_classifier.py) as a
    # real two-job deployment: train writes a model file, score ships it
    # via a file arg and classifies map-side. Differential gate: the
    # pipeline's predictions must equal l5_text_classifier's (the
    # oracle-checked relational form) document for document.
    import duckdb

    from mrjob_spark.dataflow.examples import (
        MRScoreNaiveBayes,
        MRTrainNaiveBayes,
    )
    from mrjob_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT doc_id, lang, text FROM read_parquet('{sf}/documents.parquet')"
    ).fetchall()
    inp = tmp_path / "docs.tsv"
    inp.write_text(
        "".join(f"{d}\t{l}\t{t}\n" for d, l, t in rows)
    )

    model_dir = tmp_path / "model"
    MRTrainNaiveBayes().execute(
        args=[str(inp), "-r", "inline", "--no-conf",
              "-o", str(model_dir), "--no-cat-output"]
    )
    model = model_dir / "part-00000"
    assert model.exists()

    scorer = MRScoreNaiveBayes()
    runner = scorer.execute(
        args=[str(inp), "-r", "inline", "--no-conf",
              "--model", str(model), "--no-cat-output",
              "-o", str(tmp_path / "scored")]
    )
    got = {
        doc_id: pred for doc_id, (true_lang, pred) in runner.cat_output()
    }

    want = {
        r["doc_id"]: r["pred_lang"]
        for r in REGISTRY["l5_text_classifier"].fn(spark, sf).collect()
    }
    assert len(got) == len(want) == len(rows)
    assert got == want


def test_files_open_by_bare_basename_spark_runner(spark, tmp_path):
    # the reference's task working-dir contract (mrjob/sim.py wd mirror):
    # a FILES entry is openable by BARE basename from task code — the
    # idiom the reference's own MRMostUsedWord example uses. The Spark
    # runner enters the SparkFiles root in each Python worker
    # (_ensure_task_workdir); the inline twin is covered by
    # test_reference_differential.py
    side = tmp_path / "lookup.txt"
    side.write_text("banana\n")
    inp = tmp_path / "in.txt"
    inp.write_text("apple banana apple\n")

    class MRFilesByBasename(SparkMRJob):
        FILES = [str(side)]

        def mapper_init(self):
            with open("lookup.txt") as fh:
                self.keep = {l.strip() for l in fh}

        def mapper(self, _, line):
            for w in line.split():
                if w in self.keep:
                    yield w, 1

        def reducer(self, w, counts):
            yield w, sum(counts)

    with MRFilesByBasename().make_runner(
        spark, input_paths=[str(inp)]
    ) as r:
        r.run()
        assert sorted(r.cat_output()) == [("banana", 1)]


def test_worker_cwd_restored_for_no_upload_jobs(tmp_path, monkeypatch):
    # workers are reused across jobs in one SparkSession: after an
    # upload-bearing job chdirs the worker into its SparkFiles root, a
    # later job with NO uploads must get the worker's original cwd back,
    # not inherit the stale upload dir (ADVICE r5)
    from mrjob_spark.dataflow import runner as dr

    home = tmp_path / "worker_home"
    home.mkdir()
    elsewhere = tmp_path / "stale_upload_root"
    elsewhere.mkdir()

    monkeypatch.setattr(dr, "_WORKER_HOME", None)
    monkeypatch.chdir(home)
    dr._ensure_task_workdir(False)  # records home
    assert os.getcwd() == str(home)

    os.chdir(elsewhere)  # simulate a previous upload job's sticky chdir
    dr._ensure_task_workdir(False)
    assert os.getcwd() == str(home), "no-upload job inherited stale cwd"


def test_reporter_counters_from_cmd_on_spark(spark):
    # Hadoop streaming's stderr side-channel over the SPARK runner
    # (round 6: the pipe path moved from rdd.pipe — which discards
    # stderr — to a per-partition subprocess that parses it): a *_cmd's
    # reporter:counter lines must reach runner.counters(), once per
    # partition the command ran in
    from mrjob_spark.dataflow.protocols import RawValueProtocol

    class MRReporter(SparkMRJob):
        INPUT_PROTOCOL = RawValueProtocol
        INTERNAL_PROTOCOL = RawValueProtocol
        OUTPUT_PROTOCOL = RawValueProtocol

        mapper_cmd = 'cat; echo "reporter:counter:shell,ticks,5" >&2'

    with MRReporter().make_runner(
        spark, input_rdd=pair_rdd(spark, ["a", "b", "c"], parts=3)
    ) as r:
        r.run()
        assert sorted(v for _, v in r.cat_output()) == ["a", "b", "c"]
        assert r.counters() == {"shell": {"ticks": 15}}  # 3 partitions


def test_memoized_wire_codecs_byte_identical():
    # round 12: the per-task encode/decode memo must be invisible on the
    # wire — identical bytes to the raw codec for every pair shape,
    # including the collision baits (1 vs True vs "1"; -0.0 vs 0.0,
    # which compare equal but serialize differently and are therefore
    # excluded from the encode memo), and must never hand out a shared
    # MUTABLE decoded value
    import math

    from mrjob_spark.dataflow.examples import MRWordFreqCount
    from mrjob_spark.dataflow.local import _decode_composite, _encode_composite
    from mrjob_spark.dataflow.protocols import (
        JSONProtocol,
        memoized_line_reader,
        memoized_pair_writer,
    )

    wire = JSONProtocol()
    baits = [
        (1, True), (True, 1), ("1", 1), (1, "1"), (True, False),
        (0.0, -0.0), (-0.0, 0.0), (0, 0.0), ("x", None), (None, "x"),
        ("nan", math.nan), ("word", 1), ("word", 1), ("word", 2),
        (["list", "key"], 1), ("k", ["mutable", "value"]),
        ("k", {"d": 1}), ("k", (1, 2)),
    ]
    memo_write = memoized_pair_writer(wire.write)
    for k, v in baits * 2:  # second pass hits the memo
        assert memo_write(k, v) == wire.write(k, v), (k, v)

    # composite lines through the generator pair must round-trip to the
    # same decoded stream as the raw codec, twice (memo-hit pass)
    job = MRWordFreqCount()
    scalar_pairs = [p for p in baits if not isinstance(p[0], list)] * 2
    lines = list(_encode_composite(job, scalar_pairs))
    raw = [
        (
            wire.group_key(k, v).hex().encode()
            + b"\t"
            + wire.encode_sort_key(v).hex().encode()
            + b"\t"
            + wire.write(k, v).hex().encode()
        )
        for k, v in scalar_pairs
    ]
    assert lines == raw
    decoded = list(_decode_composite(job, lines))
    assert [kv for _, kv in decoded] == [
        wire.read(wire.write(k, v)) for k, v in scalar_pairs
    ]

    # a decoded MUTABLE value must be a fresh object per occurrence
    read = memoized_line_reader(wire.read)
    line = wire.write("k", ["a"])
    first = read(line)[1]
    second = read(line)[1]
    assert first == second == ["a"] and first is not second

    # cap: distinct pairs beyond the cap still encode correctly
    small = memoized_pair_writer(wire.write, cap=4)
    many = [(f"w{i}", i) for i in range(16)] * 2
    assert [small(k, v) for k, v in many] == [wire.write(k, v) for k, v in many]
