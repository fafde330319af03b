#!/usr/bin/env python3
"""Open-loop input generator for the transit_stream workload.

Runs as its own single-threaded process beside the Spark JVM and writes the
two input topics (`Routes_topic`, `Trips_topic`) as JSON-lines files in the
raw (key, value, ts) frame of `sources.StreamAdapters`. It follows the
recipe of `sources.ScenarioGenerator`: five routes per two simulated minutes
(`Route_<n>`, `Origin_0..9`, `Destination_0..9`, capacity 50..249,
`Operator_0..4`), one trip per ten simulated seconds copying a route drawn
from the latest 100, passengers `Passenger_0..999`.

Every file lives under `--dir`: the topics in `topics/`, and the files
that pace the run beside them. Phases:
  1. backlog: `--backlog-trips` trips (and their routes) are written at
     once, then `ready.json` appears;
  2. live: after the benchmark creates `go`, one chunk of CHUNK_TRIPS trips
     is due every INTERVAL_S seconds for `--seconds` seconds, whether or not
     the system keeps up. Each chunk is written to a staging directory and
     renamed into the topic, so a reader never sees half a file. Its due
     and send times go to `gen.jsonl` as JSON lines; `done.json` then
     records the totals.

The last chunk also carries a sentinel (as in `StreamingParitySpec`): a
trip a day past the last one, with a null transport type. It advances the
0-second watermark past every real window, so the windowed query emits
them all and the check can compare every window; the null type keeps it
out of the windowed counts. It counts toward the passenger totals, and the
batch side of the check reads it too. It rides in the last chunk rather
than after the live phase because a trigger of its own would add about
ten seconds to every run.

Usage: python3 transit_gen.py --dir DIR --seed N --backlog-trips N --seconds S
"""
import argparse
import json
import os
import random
import time

TYPES = ["Bus", "Taxi", "Train", "Metro", "Scooter"]
BASE_S = 1704096000  # 2024-01-01T08:00:00Z, as in ScenarioGenerator
CHUNK_TRIPS = 3  # trips per live chunk
INTERVAL_S = 0.06  # one live chunk is due every INTERVAL_S seconds
GO_TIMEOUT_S = 300.0  # longest wait for the benchmark's go signal
SENTINEL = {"tripId": "Trip_sentinel", "routeId": "Route_1", "origin": "z",
            "destination": "z", "transportType": None, "passengerName": "Passenger_0"}


def iso(sim_s):
    return time.strftime("%Y-%m-%dT%H:%M:%S.000Z", time.gmtime(sim_s))


class Scenario:
    def __init__(self, seed):
        self.rr = random.Random(seed)
        self.rt = random.Random(seed * 7919 + 1)
        self.route_no = 0
        self.tick = 0
        self.trip_no = 0
        self.recent = []

    def _routes_until(self, sim_s):
        out = []
        while BASE_S + self.tick * 120 <= sim_s:
            ts = BASE_S + self.tick * 120
            for _ in range(5):
                self.route_no += 1
                r = {"routeId": f"Route_{self.route_no}",
                     "origin": f"Origin_{self.rr.randrange(10)}",
                     "destination": f"Destination_{self.rr.randrange(10)}",
                     "transportType": TYPES[self.rr.randrange(5)],
                     "capacity": self.rr.randrange(200) + 50,
                     "operator": f"Operator_{self.rr.randrange(5)}"}
                out.append((r, ts))
                self.recent.append(r)
                if len(self.recent) > 100:
                    self.recent.pop(0)
            self.tick += 1
        return out

    def next_trips(self, n):
        """The next `n` trips and every route emitted up to the last one."""
        routes, trips = [], []
        for _ in range(n):
            self.trip_no += 1
            sim_s = BASE_S + self.trip_no * 10
            routes += self._routes_until(sim_s)
            r = self.recent[self.rt.randrange(len(self.recent))]
            trips.append(({"tripId": f"Trip_{self.trip_no}",
                           "routeId": r["routeId"], "origin": r["origin"],
                           "destination": r["destination"],
                           "transportType": r["transportType"],
                           "passengerName": f"Passenger_{self.rt.randrange(1000)}"},
                          sim_s))
        return routes, trips


def raw_lines(records, key_field):
    return "".join(json.dumps({"key": rec[key_field],
                               "value": json.dumps(rec, separators=(",", ":")),
                               "ts": iso(ts)}) + "\n"
                   for rec, ts in records)


def publish(d, topic, name, text):
    tmp = os.path.join(d, "gen-staging", f"{topic}-{name}")
    with open(tmp, "w") as f:
        f.write(text)
    os.rename(tmp, os.path.join(d, "topics", topic, name))


def write_chunk(d, name, routes, trips):
    if routes:
        publish(d, "Routes_topic", name, raw_lines(routes, "routeId"))
    publish(d, "Trips_topic", name, raw_lines(trips, "tripId"))


def write_json(path, obj):
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.rename(tmp, path)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--dir", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--backlog-trips", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    a = ap.parse_args()
    d = a.dir
    for sub in ("topics/Routes_topic", "topics/Trips_topic", "gen-staging"):
        os.makedirs(os.path.join(d, sub), exist_ok=True)

    sc = Scenario(a.seed)
    routes, trips = sc.next_trips(a.backlog_trips)
    write_chunk(d, "backlog.json", routes, trips)
    write_json(os.path.join(d, "ready.json"), {"trips": len(trips), "routes": len(routes)})
    n_routes, n_trips = len(routes), len(trips)

    limit = time.time() + GO_TIMEOUT_S
    while not os.path.exists(os.path.join(d, "go")):
        if time.time() > limit:
            raise SystemExit("no go signal from the benchmark")
        time.sleep(0.005)
    t0 = time.time()
    n_chunks = max(1, int(round(a.seconds / INTERVAL_S)))
    late_max = 0.0
    with open(os.path.join(d, "gen.jsonl"), "w") as log:
        for k in range(n_chunks):
            due = t0 + k * INTERVAL_S
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            routes, trips = sc.next_trips(CHUNK_TRIPS)
            if k == n_chunks - 1:
                trips.append((SENTINEL, BASE_S + sc.trip_no * 10 + 86400))
            write_chunk(d, f"chunk-{k:05d}.json", routes, trips)
            sent = time.time()
            n_routes += len(routes)
            n_trips += len(trips)
            late_max = max(late_max, sent - due)
            log.write(json.dumps({"chunk": k, "due_ms": due * 1e3,
                                  "sent_ms": sent * 1e3, "trips": len(trips),
                                  "routes": len(routes), "cum_trips": n_trips}) + "\n")
            log.flush()
    write_json(os.path.join(d, "done.json"),
               {"chunks": n_chunks, "trips": n_trips, "routes": n_routes,
                "late_max_ms": late_max * 1e3})


if __name__ == "__main__":
    main()
