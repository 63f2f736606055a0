"""Open-loop sensor-event generator for the stream_open_loop workload.

One process, one thread. It writes JSON-line files that follow graft's
sensor schema (Schemas.sensorSchema) plus a `created_ms` creation stamp,
first into a staging directory and then by rename into the watched
directory, so the stream never sees a partial file.

  backlog mode: writes every file at once (the pile-up after downtime);
  live mode:    file k is due at start + k / files_per_s; the generator
                sleeps until it is due, whatever the stream is doing.

File contents depend only on (seed, file index). Each file holds one
reading per sensor for one simulated minute, shuffled (out of order); a
share of readings carry an event time 5-30 minutes older (late), and a
share of lines are truncated JSON (malformed, for the dead-letter path).
At the end it writes one JSON object per file to --log: name, due and
publish times, and the line counts the correctness checks use.
"""
import argparse
import json
import os
import random
import time

TYPES = (("temperature", 22.0, 2.0, "celsius"), ("humidity", 55.0, 10.0, "percent"),
         ("pressure", 1013.0, 5.0, "hpa"), ("vibration", 0.5, 0.3, "mm_s"))
SIM_START = 1718409600  # 2024-06-15 00:00:00 UTC
MALFORMED = 0.01  # share of lines truncated into malformed JSON
LATE = 0.05       # share of readings 5-30 minutes late


def file_lines(seed, index, sensors, created_ms):
    rnd = random.Random(seed * 1_000_003 + index)
    base = SIM_START + index * 60
    lines, n_bad, n_late = [], 0, 0
    for s in range(sensors):
        kind, mean, sigma, unit = TYPES[s % len(TYPES)]
        t = base + (s * 60) // sensors
        if rnd.random() < LATE:
            t -= rnd.randint(300, 1800)
            n_late += 1
        ts = time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(t))
        line = json.dumps({
            "sensor_id": f"sensor-{s:03d}", "sensor_type": kind, "timestamp": ts,
            "value": round(rnd.gauss(mean, sigma), 2), "unit": unit,
            "location": f"floor-{s % 5 + 1}-zone-{'ABCD'[s // 5 % 4]}",
            "created_ms": created_ms}, separators=(",", ":"))
        if rnd.random() < MALFORMED:
            line = line[:rnd.randint(10, len(line) - 10)]
            n_bad += 1
        lines.append(line)
    rnd.shuffle(lines)
    return lines, n_bad, n_late


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--mode", choices=("backlog", "live"), required=True)
    ap.add_argument("--dir", required=True)
    ap.add_argument("--staging", required=True)
    ap.add_argument("--log", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--first", type=int, default=0)
    ap.add_argument("--files", type=int, required=True)
    # the workload passes both from one place (StreamOpenLoop's constants)
    ap.add_argument("--files-per-s", type=float, required=True)
    ap.add_argument("--sensors", type=int, required=True)
    a = ap.parse_args()
    os.makedirs(a.dir, exist_ok=True)
    os.makedirs(a.staging, exist_ok=True)
    log = []
    start = time.time()
    for k in range(a.files):
        index = a.first + k
        due = start + (k / a.files_per_s if a.mode == "live" else 0.0)
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        due_ms = int(due * 1000)
        lines, n_bad, n_late = file_lines(a.seed, index, a.sensors, due_ms)
        name = f"{a.mode}-{index:06d}.json"
        tmp = os.path.join(a.staging, name)
        with open(tmp, "w") as f:
            f.write("\n".join(lines) + "\n")
        os.rename(tmp, os.path.join(a.dir, name))
        log.append({"file": name, "due_ms": due_ms, "publish_ms": int(time.time() * 1000),
                    "lines": len(lines), "malformed": n_bad, "late": n_late})
    with open(a.log, "w") as f:
        f.write("\n".join(json.dumps(r) for r in log) + "\n")


if __name__ == "__main__":
    main()
