"""Merge a verified-quiet bench run into BENCH_QUIET_BASELINE.json
under the never-loosen discipline: existing pins only TIGHTEN
(min(old, new)), new queries enter at the run's value. Refuses
contended runs. Usage:
    python scripts/merge_quiet_pin.py /path/to/bench_output.log [pin.json]
The log's last line must contain the bench JSON. The optional second
argument overrides the pin path (tests point it at a temp copy).
"""
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PIN = sys.argv[2] if len(sys.argv) > 2 else os.path.join(REPO, "BENCH_QUIET_BASELINE.json")

raw = open(sys.argv[1]).read()
# raw_decode exactly ONE complete JSON object per candidate start
# (ADVICE r10: the greedy r'\{"metric".*\}' could swallow several
# objects printed on one line; a non-greedy match would truncate the
# nested "queries" object instead).
_dec = json.JSONDecoder()
m = []
for line in raw.splitlines():
    i = line.find('{"metric"')
    while i != -1:
        try:
            obj, end = _dec.raw_decode(line[i:])
            m.append(obj)
            i = line.find('{"metric"', i + end)
        except ValueError:
            i = line.find('{"metric"', i + 1)
assert m, "no bench JSON found in log"
run = m[-1]
assert run["contended"] is False, f"run is contended: refuse to pin"
assert not run["failed"], f"run had failures: {run['failed']}"

pin = json.load(open(PIN))
pq, rq = pin["queries"], run["queries"]
tightened, added = [], []
for k, v in rq.items():
    if k not in pq:
        pq[k] = v
        added.append(k)
    elif v < pq[k]:
        pq[k] = v
        tightened.append(k)
pin["value"] = round(sum(pq.values()), 3)
pin["n_ok"] = len(pq)
# keep the RUN's requested count (ADVICE r10: overwriting with the
# merged pin size lost the run's actual request scope)
if "n_requested" in run:
    pin["n_requested"] = run["n_requested"]
else:
    pin.pop("n_requested", None)
for meta in ("start_loadavg_1m", "cpus", "sf"):
    if meta in run:
        pin[meta] = run[meta]
json.dump(pin, open(PIN, "w"))
print(
    f"pinned {len(pq)} queries: {len(added)} added "
    f"({sorted(added)}), {len(tightened)} tightened; "
    f"pin sum {pin['value']}s"
)
