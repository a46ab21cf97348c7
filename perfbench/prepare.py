"""Writes one seed's inputs and reference answers into the benchmark's
work directory (both cached, see ``inputs.py`` and ``reference.py``):

    python3 perfbench/prepare.py <work dir> <seed> <waves> [<query> ...]

``run.py`` runs it as a child process before it starts measuring, so
the memory NumPy and DuckDB take here never shows in the measured
process tree, whether the cache was cold or warm.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from inputs import generate  # noqa: E402
import reference  # noqa: E402


def main() -> int:
    work, seed, waves, queries = sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), sys.argv[4:]
    inputs = generate(seed, work)
    # one after another: the oracles keep the cores busy on their own
    for q in queries:
        reference.match_answer(work, inputs, q)
    if waves:
        reference.curate_answers(work, seed, inputs, waves)
    return 0


if __name__ == "__main__":
    code = main()
    sys.stdout.flush()
    sys.stderr.flush()
    # every file is written and renamed into place by now; skip the
    # interpreter's teardown, in which DuckDB's and Arrow's native thread
    # pools have aborted the process (std::terminate) after a run
    os._exit(code)
