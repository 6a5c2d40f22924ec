"""Open-loop transaction generator for the ``trickle`` workload.

    python3 perfbench/trickle_gen.py TXNS CAPTURE LOG RATE

Reads the pre-generated transactions in TXNS (a pickle of
``[(lsn, n_rows, [frame, ...]), ...]`` written by perfbench/trickle.py),
then appends transaction ``i`` to the pgoutput capture CAPTURE at its
due time ``t0 + i / RATE`` (``t0`` = start + 0.5 s) whether or not the
consumer keeps up. One JSON line per transaction goes to LOG:
``{"i", "lsn", "rows", "due", "sent"}`` with ``time.monotonic()``
seconds, which the parent process shares on Linux.
"""

from __future__ import annotations

import json
import os
import pickle
import sys
import time


def main(argv: list[str]) -> int:
    txns_path, capture, log_path, rate = argv[0], argv[1], argv[2], float(argv[3])
    sys.path.insert(0, os.getcwd())
    from pgsink_spark.streaming.datasource import append_capture

    with open(txns_path, "rb") as f:
        txns = pickle.load(f)
    t0 = time.monotonic() + 0.5
    with open(log_path, "w") as log:
        for i, (lsn, n_rows, frames) in enumerate(txns):
            due = t0 + i / rate
            wait = due - time.monotonic()
            if wait > 0:
                time.sleep(wait)
            append_capture(capture, frames)
            sent = time.monotonic()
            log.write(json.dumps({"i": i, "lsn": lsn, "rows": n_rows,
                                  "due": due, "sent": sent}) + "\n")
            log.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
