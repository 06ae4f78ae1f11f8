"""Write one workload's inputs, and the reference results its checks
compare with, into a directory.

    python3 perfbench/inputs.py --workload ordered_events --seed 7 --out DIR

``run.py`` runs this as a child process, so the generator's and the
references' memory never counts in the driver's peak RSS.  It prints
the generated input properties as one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle

import gen


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    props = gen.generate(a.workload, a.seed, a.out)
    if a.workload == "ordered_events":
        from wl_events import REFS, references
        with open(os.path.join(a.out, REFS), "wb") as fh:
            pickle.dump(references(a.out), fh)
    print(json.dumps(props, sort_keys=True))


if __name__ == "__main__":
    main()
