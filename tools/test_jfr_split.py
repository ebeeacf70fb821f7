"""Tests of the JFR sample splitter, over synthetic `jfr print` text.

    python3 -m unittest discover -s tools -p 'test_*.py'
"""

import unittest

import jfr_split as js

WORKER = "Executor task launch worker for task 0.0 in stage 1.0 (TID 1)"


def sample(time, frames, thread=WORKER):
    """One `jdk.ExecutionSample` block as `jfr print` writes it."""
    body = "".join(f"    {f} line: 1\n" for f in frames)
    return (f"jdk.ExecutionSample {{\n  startTime = {time}\n"
            f'  sampledThread = "{thread}" (javaThreadId = 42)\n  state = "STATE_RUNNABLE"\n'
            f"  stackTrace = [\n{body}    ...\n  ]\n}}\n\n")


def split(*samples, start=None, end=None):
    return js.split("".join(samples).splitlines(keepends=True), start, end)


CG = "org.apache.spark.sql.catalyst.expressions.codegen."
TASK = "org.apache.spark.executor.Executor$TaskRunner.run()"


class Buckets(unittest.TestCase):
    def test_spark_expression_codegen_is_codegen(self):
        c = split(
            sample("10:00:00.000", [CG + "CodegenContext.freshName(String)",
                                    CG + "GenerateUnsafeProjection$.create(Seq)", TASK]),
            sample("10:00:00.010", [CG + "GenerateMutableProjection$.generate(Seq, boolean)", TASK]),
            sample("10:00:00.020", ["org.apache.spark.sql.catalyst.expressions."
                                    "CodeGeneratorWithInterpretedFallback.createObject(Object)", TASK]),
            sample("10:00:00.030", ["org.codehaus.janino.UnitCompiler.compile2(Java$Block)", TASK]))
        self.assertEqual(c["codegen"], 4)
        self.assertEqual(c["other"], 0)

    def test_row_helpers_fall_through_to_the_caller(self):
        c = split(
            sample("10:00:00.000", [CG + "UnsafeRowWriter.write(int, UTF8String)",
                                    "com.fasterxml.jackson.core.json.UTF8StreamJsonParser.nextToken()", TASK]),
            sample("10:00:00.010", [CG + "BufferHolder.grow(int)",
                                    "org.apache.spark.sql.catalyst.expressions.GeneratedClass$"
                                    "GeneratedIteratorForCodegenStage1.processNext()", TASK]))
        self.assertEqual(c["wire_decode"], 1)
        self.assertEqual(c["other"], 1)
        self.assertEqual(c["codegen"], 0)

    def test_innermost_matching_frame_wins(self):
        c = split(sample("10:00:00.000", [
            "java.io.ObjectInputStream.readObject()",
            "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider.getStore(long)",
            TASK]))
        self.assertEqual(c["task_deser"], 1)
        self.assertEqual(c["state_store"], 0)

    def test_only_executor_threads_count(self):
        c = split(sample("10:00:00.000", [CG + "CodeGenerator$.compile(CodeAndComment)"],
                         thread="stream execution thread for q"),
                  sample("10:00:00.010", ["graft.plans.WireKernel.graft_wire_decode(UTF8String)", TASK]))
        self.assertEqual(sum(c.values()), 1)
        self.assertEqual(c["wire_decode"], 1)


GEN = "org.apache.spark.sql.catalyst.expressions.GeneratedClass$GeneratedIteratorForCodegenStage"
KERNEL = "graft.plans.WireKernel.graft_wire_decode(UTF8String)"


def frame_counts(patterns, *samples, start=None, end=None):
    return js.frame_counts("".join(samples).splitlines(keepends=True), patterns, start, end)


class Frames(unittest.TestCase):
    def test_samples_count_per_bucket_under_the_stage_that_ran_them(self):
        c = frame_counts([r"CodegenStage1\.", r"CodegenStage2\."],
                         sample("10:00:00.000", [KERNEL, GEN + "1.filter_doConsume()", TASK]),
                         sample("10:00:00.010", [KERNEL, GEN + "2.project_doConsume()", TASK]),
                         sample("10:00:00.020", [KERNEL, GEN + "2.project_doConsume()", TASK]),
                         sample("10:00:00.030", [GEN + "2.processNext()", TASK]))
        self.assertEqual(c[r"CodegenStage1\."]["wire_decode"], 1)
        self.assertEqual(sum(c[r"CodegenStage1\."].values()), 1)
        self.assertEqual(c[r"CodegenStage2\."]["wire_decode"], 2)
        self.assertEqual(c[r"CodegenStage2\."]["other"], 1)

    def test_a_sample_counts_once_however_many_frames_match(self):
        c = frame_counts(["Codegen"], sample("10:00:00.000", [GEN + "1.a()", GEN + "1.b()", CG + "X.y()", TASK]))
        self.assertEqual(sum(c["Codegen"].values()), 1)

    def test_frames_keep_the_thread_and_window_filters(self):
        samples = [sample("10:00:00.000", [KERNEL, TASK]),
                   sample("10:00:05.000", [KERNEL, TASK]),
                   sample("10:00:05.500", [KERNEL], thread="stream execution thread for q")]
        self.assertEqual(frame_counts(["graft_wire_decode"], *samples)["graft_wire_decode"]["wire_decode"], 2)
        self.assertEqual(frame_counts(["graft_wire_decode"], *samples, start=1)["graft_wire_decode"]["wire_decode"], 1)
        self.assertEqual(sum(frame_counts(["NoSuchFrame"], *samples)["NoSuchFrame"].values()), 0)


class Window(unittest.TestCase):
    def test_window_is_relative_to_the_earliest_sample(self):
        # samples are printed per thread buffer, not in time order
        c = split(sample("10:00:05.000", [TASK]), sample("10:00:00.000", [TASK]),
                  sample("10:00:09.500", [TASK]), start=4, end=9)
        self.assertEqual(c["other"], 1)

    def test_a_recording_across_midnight_keeps_every_sample_in_order(self):
        samples = [sample("23:59:58.000", [TASK]), sample("00:00:01.000", [TASK]),
                   sample("23:59:59.500", [TASK]), sample("00:00:03.000", [TASK])]
        self.assertEqual(split(*samples)["other"], 4)
        # 23:59:58 is t=0, so [2.5, 6) holds 00:00:01 and 00:00:03 only
        self.assertEqual(split(*samples, start=2.5, end=6)["other"], 2)
        # the first printed sample may be the one after midnight
        self.assertEqual(split(*reversed(samples), start=0, end=1.6)["other"], 2)


if __name__ == "__main__":
    unittest.main()
