"""Open-loop file releaser for the stream_trickle workload.

One process, one thread. It moves pre-built parquet files from a staging
directory into the stream's input directory on a fixed schedule: file k of
the run is due at start + k * interval, whether or not the stream has kept
up. A rename inside one file system is atomic, so the stream never sees a
half-written file. Each release is logged as `name due_ms released_ms`
(epoch milliseconds) for latency and lateness.

    python3 gen_stream.py --staging S --input I --first 1 --count 120 \
        --start-ms 1700000000000 --interval-ms 100 --log releases.log
"""

import argparse
import os
import time


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--staging", required=True)
    ap.add_argument("--input", required=True)
    ap.add_argument("--first", type=int, required=True)
    ap.add_argument("--count", type=int, required=True)
    ap.add_argument("--start-ms", type=float, required=True)
    ap.add_argument("--interval-ms", type=float, required=True)
    ap.add_argument("--log", required=True)
    a = ap.parse_args()
    lines = []
    for k in range(a.count):
        name = f"f-{a.first + k:05d}.parquet"
        due = a.start_ms + k * a.interval_ms
        wait = due / 1000.0 - time.time()
        if wait > 0:
            time.sleep(wait)
        os.rename(os.path.join(a.staging, name), os.path.join(a.input, name))
        lines.append(f"{name} {due:.3f} {time.time() * 1000.0:.3f}\n")
    with open(a.log, "w") as f:
        f.writelines(lines)


if __name__ == "__main__":
    main()
