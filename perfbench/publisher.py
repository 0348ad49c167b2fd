"""Open-loop publisher for ``stream_trickle``: a single-threaded process that
moves one file into the watched directory per period, on a fixed schedule that
does not wait for the engine.

Each file is written outside the watched directory and renamed in, so the
file source never sees a partial file.  One JSON line per file records its
due time and actual publish time (``time.time()`` seconds).

Usage: python3 -m perfbench.publisher SRC_DIR TMP_DIR DST_DIR T0 PERIOD LOG
(publishes the files of SRC_DIR in name order; file k is due at T0 + k*PERIOD).
"""

from __future__ import annotations

import json
import os
import sys
import time


def main(argv: list[str]) -> int:
    src, tmp, dst, t0, period, log = argv
    t0, period = float(t0), float(period)
    records = []
    for k, name in enumerate(sorted(os.listdir(src))):
        due = t0 + k * period
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        with open(os.path.join(src, name), "rb") as f:
            data = f.read()
        staged = os.path.join(tmp, name)
        with open(staged, "wb") as f:
            f.write(data)
        os.rename(staged, os.path.join(dst, name))
        records.append({"file": name, "due": due, "published": time.time()})
    with open(log, "w") as f:
        f.write("\n".join(json.dumps(r) for r in records) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
