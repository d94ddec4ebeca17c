"""Check that ``SuiteRunner.run`` finishes an interrupted doc-suite run
correctly.

    python3 perfbench/resume_check.py [seed] [n_docs]

Run from the repository root. Stages the ``doc_suite`` inputs for the seed
(default 1) at ``n_docs`` documents (default 20,000), runs the suite once
into an empty checkpoint, then drops the last two of the 16 partitions from
a copy of that checkpoint, resumes from it and compares the final checkpoint
with the fresh run's rows. Prints the resume pass time and the outcome;
exits 1 when the checkpoints differ. Not part of a benchmark run: it fails
while the engine writes resumed drift rows with shifted columns (see
``perfbench/README.md``).
"""

from __future__ import annotations

import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main(argv: list[str]) -> int:
    seed = int(argv[0]) if argv else 1
    n_docs = int(argv[1]) if len(argv) > 1 else 20_000
    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tools")]
    from doc_suite import DocSuite
    from harness import Session

    work = os.path.join(ROOT, ".perfbench_work", f"resume-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        session = Session(work)
        try:
            suite = DocSuite(session.spark, work, seed, n_docs)
            suite.setup()
            seconds, op = suite.resume_check()
        finally:
            session.stop()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(f"resume pass {seconds:.3f} s: "
          + ("final checkpoint equals the fresh run" if op.ok
             else f"final checkpoint differs: {op.problem}"))
    return 0 if op.ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
