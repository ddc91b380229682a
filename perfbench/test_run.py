"""Tests of the benchmark's own output checking.

Run from the root of a checkout:

    python3 -m unittest perfbench/test_run.py

The end-to-end case runs the benchmark once with a perturbed copy of
the recorded digests; it needs the toolchain and about a minute, and is
skipped unless PERFBENCH_E2E=1.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

SPECS = [{"name": "warm_total_s", "unit": "s", "better": "lower", "bound": 0.1}]


def fake_result(digests, errors=None):
    errors = errors or {}
    return {"ops": [{"name": n, "digest": d, "attempts": 4, "errors": 1 if n in errors else 0,
                     "error": errors.get(n)} for n, d in digests.items()]}


def perturb(digest):
    rows, h = digest.split(":")
    return f"{rows}:{(int(h, 16) ^ 1):016x}"


class CheckOutputs(unittest.TestCase):
    recorded = {"q1": "10:00000000000000ff", "q2": "3:0123456789abcdef"}

    def test_matching_digests_pass(self):
        line = run.summarize(fake_result(self.recorded), self.recorded, SPECS, {"warm_total_s": 1.0})
        self.assertEqual((line["correct"], line["attempted"], line["failed"]), (True, 8, 0))

    def test_perturbed_digest_is_a_failure(self):
        got = dict(self.recorded, q2=perturb(self.recorded["q2"]))
        line = run.summarize(fake_result(got), self.recorded, SPECS, {"warm_total_s": 1.0})
        self.assertFalse(line["correct"])
        self.assertEqual(line["failed"], 4)

    def test_row_count_change_is_a_failure(self):
        got = dict(self.recorded, q1="11:00000000000000ff")
        self.assertIn("q1", run.check_outputs(fake_result(got)["ops"], self.recorded))

    def test_missing_record_and_errors_are_failures(self):
        got = dict(self.recorded, q3="1:0000000000000001")
        bad = run.check_outputs(fake_result(got, errors={"q1": "boom"})["ops"], self.recorded)
        self.assertEqual(set(bad), {"q1", "q3"})

    def test_unmeasured_metric_is_an_error(self):
        with self.assertRaises(run.BenchError):
            run.summarize(fake_result(self.recorded), self.recorded, SPECS, {})

    def test_text_digests_follow_the_corpus_variant(self):
        self.assertEqual(run.digest_key("gate_board", 5), "gate_board/v1")
        self.assertEqual(run.digest_key("corpus_x10", 5), "corpus_x10")


@unittest.skipUnless(os.environ.get("PERFBENCH_E2E") == "1", "set PERFBENCH_E2E=1 to run")
class EndToEnd(unittest.TestCase):
    def test_perturbed_recorded_digest_fails_the_run(self):
        with open(run.DIGESTS) as f:
            recorded = json.load(f)
        backup = tempfile.NamedTemporaryFile(delete=False, dir=run.WORK, suffix=".json")
        backup.close()
        shutil.copy(run.DIGESTS, backup.name)
        try:
            first = sorted(recorded["gate_board/v1"])[0]
            recorded["gate_board/v1"][first] = perturb(recorded["gate_board/v1"][first])
            with open(run.DIGESTS, "w") as f:
                json.dump(recorded, f)
            out = subprocess.run([sys.executable, os.path.join(run.HERE, "run.py"),
                                  "--workload", "gate_board", "--seed", "1", "--seconds", "1",
                                  "--trace", "0"], cwd=run.ROOT, capture_output=True, text=True,
                                 timeout=900)
        finally:
            shutil.move(backup.name, run.DIGESTS)
        self.assertEqual(out.returncode, 0, out.stderr[-2000:])
        line = json.loads(out.stdout.strip().splitlines()[-1])
        self.assertFalse(line["correct"])
        self.assertGreater(line["failed"], 0)
        self.assertIn(f"FAILED {first}", out.stderr)


if __name__ == "__main__":
    unittest.main()
