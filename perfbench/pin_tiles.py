"""Write ``pinned_tiles.json``: the tile counters (geoms, tiles, v_in,
v_out) of every page-window index in SEEDS for the ``tile_pipeline``
window size (run seed s uses window indices 3s, 3s+1 and 3s+2).

    python3 perfbench/pin_tiles.py

The benchmark's in-process replay shares the kernel with the pipeline,
so it cannot see a change in the kernel's output; these pinned values
can.  Regenerate only together with a stated reason for the change.
"""

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

from workloads import PAGES, TILE_KEYS, tile_oracle  # noqa: E402

SEEDS = range(100)

if __name__ == "__main__":
    counters = {}
    for seed in SEEDS:
        r = tile_oracle(seed, PAGES)
        counters[str(seed)] = [r[k] for k in TILE_KEYS]
    rows = ",\n".join(f"  {json.dumps(s)}: {json.dumps(c)}" for s, c in counters.items())
    with open(os.path.join(HERE, "pinned_tiles.json"), "w") as f:
        f.write(f'{{"n_pages": {PAGES}, "counters": {{\n{rows}\n}}}}\n')
