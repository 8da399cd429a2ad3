"""The benchmark's own tests.

    python3 -m unittest discover -s vbench/tests -v

Run them from the repository root and not while a benchmark run is in
progress: both use vbench/.work.  The spawn test builds the engine and
starts the harness JVM, so it takes a few minutes.
"""

import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import run  # noqa: E402

SCRATCH = os.path.join(BENCH, ".work", "test")

SMALL = {
    "pipeline_paired": (gen.gen_pipeline, dict(pairs=300, nfiles=4)),
    "sql_tools": (gen.gen_sql, dict(reads=300, alignments=300, hits=300, nfiles=4, mix=10)),
    "corpus_prep": (gen.gen_corpus, dict(docs=100, nfiles=4)),
}


def bench(*args):
    """Run run.py from the repository root; returns its stdout lines."""
    p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), *args],
                       cwd=ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        raise AssertionError(f"run.py {' '.join(args)} failed:\n{p.stderr[-3000:]}")
    return p.stdout.splitlines()


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)
        os.makedirs(SCRATCH)

    def test_same_seed_gives_byte_identical_inputs(self):
        for name, (fn, kw) in SMALL.items():
            with self.subTest(workload=name):
                digests = []
                for i, seed in enumerate((7, 7, 8)):
                    d = os.path.join(SCRATCH, f"{name}-{i}")
                    fn(d, seed, **kw)
                    digests.append(run._dir_digest(d))
                self.assertEqual(digests[0], digests[1])
                self.assertNotEqual(digests[0], digests[2])

    def test_planted_pipeline_properties(self):
        d = os.path.join(SCRATCH, "planted")
        truth = gen.gen_pipeline(d, 3, pairs=2000, nfiles=4)
        self.assertGreater(truth["orphans"], 0)
        self.assertGreater(truth["low_quality_pairs"], 0)
        lengths = set()
        for f in os.listdir(os.path.join(d, "r1")):
            with open(os.path.join(d, "r1", f)) as fh:
                lines = fh.read().split("\n")
            lengths.update(len(s) for s in lines[1::4] if s)
        # the mock blastn pident is 50 + len % 50: both sides of 70
        self.assertTrue(any(n % 50 > 20 for n in lengths))
        self.assertTrue(any(n % 50 <= 20 for n in lengths))
        self.assertEqual((min(lengths), max(lengths)), (80, 149))


# The engine's mock tools (graft.pipe.Pipes), one per tool name the shim
# logs, with an input of the kind each reads.
FASTQ = "@r1/1\nACGTACGT\n+\nIIIIIIII\n@r1/2\nTTGCA\n+\nIIIII\n"
FASTA = ">c1\nACGTACGTAAAT\n>c2\nTTGCA\n"
MOCK_TOOLS = {
    "align": ("NR % 4 == 1 { name = substr($1, 2) } "
              "NR % 4 == 2 { seq = $0 } "
              "NR % 4 == 0 { flag = (name ~ /\\/1$/) ? 77 : 141; sub(/\\/[12]$/, \"\", name); "
              "print name \"\\t\" flag \"\\t*\\t0\\t0\\t*\\t*\\t0\\t0\\t\" seq \"\\t\" $0 }",
              FASTQ),
    "assemble": ('/^>/ { n += 1; print ">contig_" n; next } { print }', FASTA),
    "blastn": ("/^>/ { id = substr($1, 2); next } "
               "{ print id \"\\tSUBJ\\t\" (50 + length($0) % 50) \".0\\t\" length($0) "
               "\"\\t0\\t0\\t1\\t\" length($0) \"\\t1\\t\" length($0) \"\\t0.001\\t100.0\\t\" "
               "(length($0) % 7) }", FASTA),
    "hmmsearch": ("/^>/ { id = substr($1, 2); next } "
                  "{ print id \" - vFam_mock - 1e-5 \" length($0) \" 0.0\" }", FASTA),
}


class ShimTest(unittest.TestCase):
    """The tool shim is transparent: same stdout, stderr and exit code as
    the real binary, with one start and one end line logged per spawn."""

    def setUp(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)
        os.makedirs(SCRATCH)
        self.real = shutil.which("awk")
        self.log = os.path.join(SCRATCH, "shim.log")
        self.env = dict(os.environ, VBENCH_REAL_TOOL=self.real, VBENCH_SHIM_LOG=self.log)

    def run_both(self, prog, stdin):
        shim = os.path.join(BENCH, "shim", "awk")
        got = subprocess.run(["sh", shim, prog], input=stdin.encode(),
                             capture_output=True, env=self.env)
        want = subprocess.run([self.real, prog], input=stdin.encode(), capture_output=True)
        self.assertEqual((got.stdout, got.stderr, got.returncode),
                         (want.stdout, want.stderr, want.returncode))
        return got

    def logged(self):
        with open(self.log) as f:
            return [line.split() for line in f]

    def test_tool_output_is_identical_with_and_without_the_shim(self):
        for tool, (prog, stdin) in MOCK_TOOLS.items():
            with self.subTest(tool=tool):
                open(self.log, "w").close()
                self.assertGreater(len(self.run_both(prog, stdin).stdout), 0)
                start, end = self.logged()
                self.assertEqual((start[0], start[3]), ("S", tool))
                self.assertEqual((end[0], end[1], end[3], end[4]), ("E", start[1], "0", tool))
                self.assertLessEqual(int(start[2]), int(end[2]))

    def test_exit_code_is_logged_and_passed_on(self):
        open(self.log, "w").close()
        self.assertEqual(self.run_both("{ print } END { exit 3 }", "x\n").returncode, 3)
        self.assertEqual([l[3:] for l in self.logged() if l[0] == "E"], [["3", "other"]])

    def test_no_log_while_switched_off(self):
        open(self.log, "w").close()
        open(self.log + ".off", "w").close()
        self.run_both(*MOCK_TOOLS["assemble"])
        self.assertEqual(self.logged(), [])


class HarnessTest(unittest.TestCase):
    """Start the harness JVM; slow."""

    def test_pipe_spawns_repeat_across_traced_runs(self):
        seen = []
        for _ in range(2):
            res = json.loads(bench("--workload", "pipeline_paired", "--seed", "5",
                                   "--seconds", "1", "--trace", "1")[-1])
            self.assertTrue(res["correct"])
            m = res["metrics"]
            seen.append((m["pipe.spawns"]["value"], m["pipe.spawns_needed"]["value"]))
        self.assertGreater(seen[0][0], 0)
        self.assertEqual(seen[0], seen[1])


if __name__ == "__main__":
    unittest.main()
