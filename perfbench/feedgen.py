#!/usr/bin/env python3
"""Open-loop ad-click feed for the ad_stream workload.

A single-threaded process that writes the reference's ad-click log
(`timestamp province city userid adid` per line, the MockRealTimeData
shape) as small text files, on a fixed schedule, at a ladder of rates.
Each tick's events are stamped with their creation times, spread evenly
over the tick; the file appears (atomic rename) at the tick's end.

Protocol with the consumer, through files in --ctl:
  start         consumer is ready; write one warm-up file, then `warm_written`
  ladder        consumer folded the warm-up; run the ladder
  done          written after the last file, with manifest.json and
                tallies.json (exact per (date, province, city, ad) counts)

Usage: feedgen.py --ctl DIR --incoming DIR --seed N
"""
import argparse
import json
import os
import random
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from benchlib.stats import tally_key  # noqa: E402

ADS, USERS, PROVINCES, CITIES = 20, 100, 10, 10
# the rate ladder in events/s: 1x, 10x and 100x the reference's ~102/s
RATES = (102, 1020, 10200)
STEP_S = 1.5  # seconds at each rate
TICK_S = 0.5  # one file per tick
WARM_EVENTS = 500


def wait_for(path, timeout_s):
    end = time.time() + timeout_s
    while not os.path.exists(path):
        if time.time() > end:
            sys.exit(f"feedgen: timed out waiting for {path}")
        time.sleep(0.005)


class Feed:
    def __init__(self, args):
        self.a = args
        self.rng = random.Random(args.seed)
        # seed-skewed popularity: a Zipf-like weight over a seeded
        # permutation of the ids, so each seed has its own hot ads/users
        self.ads = self._skewed(ADS, 1.2)
        self.users = self._skewed(USERS, 0.9)
        self.tallies = {}
        self.files = []
        self.seq = 0

    def _skewed(self, n, s):
        ids = list(range(n))
        self.rng.shuffle(ids)
        return ids, [1.0 / (i + 1) ** s for i in range(n)]

    def write(self, first_ms, spacing_ms, n, rate, step, due_ms):
        ads = self.rng.choices(self.ads[0], self.ads[1], k=n)
        users = self.rng.choices(self.users[0], self.users[1], k=n)
        lines = []
        for k in range(n):
            ts = int(first_ms + k * spacing_ms)
            p = self.rng.randrange(PROVINCES)
            c = self.rng.randrange(CITIES)
            lines.append(f"{ts} {p} {c} {users[k]} {ads[k]}")
            key = tally_key(ts, p, c, ads[k])
            self.tallies[key] = self.tallies.get(key, 0) + 1
        name = f"clicks-{self.seq:05d}.txt"
        self.seq += 1
        tmp = os.path.join(self.a.ctl, name + ".tmp")
        with open(tmp, "w") as f:
            f.write("\n".join(lines) + "\n")
        os.rename(tmp, os.path.join(self.a.incoming, name))
        written = time.time() * 1000.0
        self.files.append({"name": name, "rate": rate, "step": step, "n": n,
                           "first_ms": first_ms, "spacing_ms": spacing_ms,
                           "due_ms": due_ms, "written_ms": written})

    def run(self):
        a = self.a
        wait_for(os.path.join(a.ctl, "start"), 170)
        now = time.time() * 1000.0
        self.write(now, 0.0, WARM_EVENTS, 0, -1, now)
        open(os.path.join(a.ctl, "warm_written"), "w").close()
        wait_for(os.path.join(a.ctl, "ladder"), 170)
        ticks = round(STEP_S / TICK_S)
        tick_ms = TICK_S * 1000.0
        t0 = time.time() * 1000.0
        for step, rate in enumerate(RATES):
            n = round(rate * TICK_S)
            for k in range(ticks):
                start = t0 + (step * ticks + k) * tick_ms
                due = start + tick_ms
                delay = due / 1000.0 - time.time()
                if delay > 0:
                    time.sleep(delay)
                self.write(start + tick_ms / (2 * n), tick_ms / n, n, rate, step, due)
        with open(os.path.join(a.ctl, "manifest.json"), "w") as f:
            json.dump({"files": self.files, "rates": RATES, "tick_s": TICK_S}, f)
        with open(os.path.join(a.ctl, "tallies.json"), "w") as f:
            json.dump(self.tallies, f)
        open(os.path.join(a.ctl, "done"), "w").close()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--ctl", required=True)
    ap.add_argument("--incoming", required=True)
    ap.add_argument("--seed", type=int, required=True)
    Feed(ap.parse_args()).run()


if __name__ == "__main__":
    main()
