"""Record the canary digest in pins.json.

    python3 perfbench/pin_canary.py

Run it only when a change to extraction output is intended; every
benchmark run compares the program's canary digest with this pin.
"""

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from check import digest_of, reference_digests  # noqa: E402
from inputs import canary_rows  # noqa: E402

if __name__ == "__main__":
    rows = canary_rows()
    pins = {"canary_pages": len(rows),
            "canary_digest": digest_of(reference_digests(rows, 1).items())}
    with open(os.path.join(HERE, "pins.json"), "w") as fh:
        json.dump(pins, fh, indent=2)
        fh.write("\n")
    print(json.dumps(pins))
