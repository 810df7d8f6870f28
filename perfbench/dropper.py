"""Open-loop events dropper: a separate, single-threaded process.

Moves pre-written parquet files from a staging directory into the stream's
watched directory at a fixed rate, on a schedule that does not slow when the
pipeline does. Each move is an atomic rename within one filesystem, so the
file source never lists a partial file. One JSON line per file goes to the
log: its name, the time it was due and the time it was dropped (epoch
seconds).

usage: python3 dropper.py STAGE DEST RATE_PER_S T0_EPOCH_S LOG
"""
import json
import os
import sys
import time


def main(stage, dest, rate, t0, log_path):
    names = sorted(os.listdir(stage))
    with open(log_path, "w") as log:
        for i, name in enumerate(names):
            due = t0 + i / rate
            pause = due - time.time()
            if pause > 0:
                time.sleep(pause)
            os.rename(os.path.join(stage, name), os.path.join(dest, name))
            log.write(json.dumps({"file": name, "due": due, "dropped": time.time()}) + "\n")
            log.flush()


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2], float(sys.argv[3]), float(sys.argv[4]), sys.argv[5])
