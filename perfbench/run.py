"""Entry point of the benchmark; see perfbench/bench.py and README.md.

    python3 perfbench/run.py --workload query --seed 1 --seconds 12 --trace 0
"""

import os
import sys

if __name__ == "__main__":
    # import the checkout's packages, and not this directory's modules as
    # top-level names
    sys.path[0] = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    from perfbench.bench import main

    sys.exit(main())
