"""Seeded load generator for the perfbench workloads.

Runs as its own single-threaded process, separate from the Spark
driver; the program under test only ever sees the files it writes.
Every file is written to a staging directory and renamed into the
watched directory (atomic on one filesystem), and its creation stamp
is recorded in a manifest together with the ground truth.

Subcommands (all take ``--seed``; the same seed gives the same data):

``preload``  STEDI customer changefeed written before a live run, plus
             the generator state (registered customers) the live run
             continues from.
``live``     open loop: every TICK_MS one risk-event file, and every
             CUSTOMER_EVERY ticks one changefeed file holding new
             customers, re-emitted versions and foreign keys. The
             schedule never waits for the consumer.
``backlog``  the same traffic pre-generated for a replay drain.
``corpus``   curation corpus: text + 64-d embeddings with planted exact
             duplicates, lightly edited near-duplicates, embedding-space
             paraphrases and low-quality junk.

Truth for STEDI files: per file, its kind, due time, creation stamp and
decoded rows -- customer files list the valid ``(email, birthYear)``
versions (foreign keys are counted, not listed, because the pipeline
must drop them), and event files list ``(email, score)``. The expected
join output is every version x event pair sharing an email.
"""

from __future__ import annotations

import argparse
import base64
import json
import os
import random
import sys
import time

CUSTOMER_KEY = base64.b64encode(b"Customer").decode()
FOREIGN_KEY = base64.b64encode(b"Device").decode()

#: STEDI traffic, shared by the live loop and the replay backlog: one
#: event file per tick, one changefeed file every CUSTOMER_EVERY ticks.
TICK_MS = 100
EVENTS_PER_TICK = 100  # 1,000 events/s
CUSTOMER_EVERY = 5
NEW_CUSTOMERS = 20
VERSIONS = 10  # re-emitted versions of known customers per changefeed file
FOREIGN = 5  # entries per changefeed file that the pipeline must drop
PRELOAD_CUSTOMERS = 5000
PRELOAD_FILES = 4

#: Curation corpus: DUP_RATE of the documents are planted duplicates.
DOCS = 1000
DUP_RATE = 0.2
JUNK_RATE = 0.03
#: Paraphrase embedding = original + this times a random unit vector
#: (cosine ~0.999, far above semantic_dedup's 0.9 threshold).
PARAPHRASE_NOISE = 0.05


def b64(s: str) -> str:
    return base64.b64encode(s.encode()).decode()


class Writer:
    """Atomic file drops: write under ``stage``, rename into ``out``."""

    def __init__(self, out: str, stage: str) -> None:
        self.out, self.stage = out, stage
        os.makedirs(out, exist_ok=True)
        os.makedirs(stage, exist_ok=True)

    def drop(self, name: str, lines: list[str]) -> int:
        tmp = os.path.join(self.stage, name)
        with open(tmp, "w") as fh:
            fh.write("\n".join(lines))
            fh.write("\n")
        os.rename(tmp, os.path.join(self.out, name))
        return time.time_ns()


class Stedi:
    """Customer registry plus record builders for the STEDI topics."""

    def __init__(self, seed: int, state: dict | None = None) -> None:
        self.rng = random.Random(seed)
        self.seed = seed
        # email -> registration tick; only customers registered on an
        # earlier tick may be referenced by an event
        self.registered: dict[str, int] = dict(state["registered"]) if state else {}
        self.next_id = state["next_id"] if state else 0
        self.foreign = state["foreign"] if state else 0

    def state(self) -> dict:
        return {
            "registered": self.registered,
            "next_id": self.next_id,
            "foreign": self.foreign,
        }

    def _birthday(self) -> str:
        r = self.rng
        return f"{r.randint(1940, 2005)}-{r.randint(1, 12):02d}-{r.randint(1, 28):02d}"

    def customer_record(self, email: str, name: str) -> tuple[str, str]:
        birthday = self._birthday()
        customer = {
            "customerName": name,
            "email": email,
            "phone": f"{self.rng.randint(0, 9999999999):010d}",
            "birthDay": birthday,
        }
        return self._envelope(CUSTOMER_KEY, customer), birthday.split("-")[0]

    def foreign_record(self) -> str:
        """A changefeed entry the pipeline must drop: a device reading
        (no customer fields) or a customer stub without a birthday."""
        self.foreign += 1
        if self.rng.random() < 0.5:
            rec = {"deviceId": f"dev-{self.foreign}", "reading": self.rng.randint(0, 999)}
            return self._envelope(FOREIGN_KEY, rec)
        stub = {"customerName": "Stub", "email": f"stub{self.foreign}@stedi.test"}
        return self._envelope(CUSTOMER_KEY, stub)

    def _envelope(self, key: str, payload: dict) -> str:
        value = {
            "key": key,
            "existType": "NONE",
            "Ch": False,
            "Incr": False,
            "zSetEntries": [{"element": b64(json.dumps(payload)), "Score": "0.0"}],
        }
        return json.dumps({"key": key, "value": json.dumps(value)})

    def changefeed(self, tick: int, new: int, versions: int, foreign: int):
        """Lines + truth rows for one changefeed file."""
        lines, rows = [], []
        for _ in range(new):
            i = self.next_id
            self.next_id += 1
            email = f"s{self.seed}c{i}@stedi.test"
            line, year = self.customer_record(email, f"Customer {i}")
            lines.append(line)
            rows.append([email, year])
            self.registered[email] = tick
        known = sorted(self.registered)
        for _ in range(min(versions, len(known))):
            email = self.rng.choice(known)
            line, year = self.customer_record(email, "Customer v")
            lines.append(line)
            rows.append([email, year])
        for _ in range(foreign):
            lines.append(self.foreign_record())
        return lines, rows

    def events(self, tick: int, n: int, eligible: list[str]):
        lines, rows = [], []
        for _ in range(n):
            email = self.rng.choice(eligible)
            score = f"{self.rng.randint(-40, 40) * 0.5:.1f}"
            event = (
                f'{{"customer":"{email}","score":{score},'
                f'"riskDate":"2026-01-{1 + tick % 28:02d}T07:00:00.000Z"}}'
            )
            lines.append(json.dumps({"key": email, "value": event}))
            rows.append([email, score])
        return lines, rows

    def eligible(self, tick: int) -> list[str]:
        return sorted(e for e, t in self.registered.items() if t < tick)


def _name(kind: str, tick: int) -> str:
    return f"{kind}-{tick:07d}.json"


def _writers(out: str) -> dict[str, Writer]:
    return {k: Writer(os.path.join(out, k), os.path.join(out, ".stage"))
            for k in ("customers", "events")}


def _entry(name, kind, due, created, rows, foreign) -> dict:
    return {"name": name, "kind": kind, "due_ns": due, "created_ns": created,
            "rows": rows, "foreign": foreign}


def _preload(g: Stedi, writers: dict[str, Writer]) -> list[dict]:
    """PRELOAD_CUSTOMERS customers in PRELOAD_FILES changefeed files, on
    ticks before the traffic's tick 0."""
    files = []
    per_file = -(-PRELOAD_CUSTOMERS // PRELOAD_FILES)
    for f in range(PRELOAD_FILES):
        lines, rows = g.changefeed(f - PRELOAD_FILES, per_file, 0, FOREIGN)
        name = f"customers-pre{f:03d}.json"
        stamp = writers["customers"].drop(name, lines)
        files.append(_entry(name, "customers", stamp, stamp, rows, FOREIGN))
    return files


def cmd_preload(a) -> None:
    g = Stedi(a.seed)
    files = _preload(g, _writers(a.out))
    with open(a.state, "w") as fh:
        json.dump(g.state(), fh)
    _write_manifest(a.manifest, {"files": files, "late_ms_max": 0.0})


def _traffic(g: Stedi, tick: int) -> list[tuple[str, list, list, int]]:
    """(kind, lines, rows, foreign) for one tick of traffic."""
    out = []
    if tick % CUSTOMER_EVERY == 0:
        lines, rows = g.changefeed(tick, NEW_CUSTOMERS, VERSIONS, FOREIGN)
        out.append(("customers", lines, rows, FOREIGN))
    lines, rows = g.events(tick, EVENTS_PER_TICK, g.eligible(tick))
    out.append(("events", lines, rows, 0))
    return out


def cmd_live(a) -> None:
    """Open loop on wall-clock ticks; lateness is recorded, never
    compensated by skipping or bunching ticks."""
    with open(a.state) as fh:
        g = Stedi(a.seed + 1, json.load(fh))
    writers = _writers(a.out)
    tick_ns = TICK_MS * 1_000_000
    n_ticks = int(a.seconds * 1000 // TICK_MS)
    # pre-build every tick's payload so the timed loop only writes
    plan = [_traffic(g, t) for t in range(n_ticks)]
    start = time.time_ns() + tick_ns
    files, late_max = [], 0.0
    for t, drops in enumerate(plan):
        due = start + t * tick_ns
        wait = due - time.time_ns()
        if wait > 0:
            time.sleep(wait / 1e9)
        for kind, lines, rows, foreign in drops:
            name = _name(kind, t)
            created = writers[kind].drop(name, lines)
            late_max = max(late_max, (created - due) / 1e6)
            files.append(_entry(name, kind, due, created, rows, foreign))
    _write_manifest(a.manifest, {"files": files, "late_ms_max": late_max})


def cmd_backlog(a) -> None:
    """The live traffic shape, written back to back (no schedule):
    customers preloaded first, then ``ticks`` ticks of traffic."""
    g = Stedi(a.seed)
    writers = _writers(a.out)
    files = _preload(g, writers)
    for t in range(a.ticks):
        for kind, lines, rows, foreign in _traffic(g, t):
            name = _name(kind, t)
            stamp = writers[kind].drop(name, lines)
            files.append(_entry(name, kind, stamp, stamp, rows, foreign))
    _write_manifest(a.manifest, {"files": files, "late_ms_max": 0.0})


# --- curation corpus --------------------------------------------------------

STOP = ["the", "a", "and", "of", "to", "in", "is"]
SYLL = ["ka", "lo", "mi", "ren", "tu", "sa", "vor", "ne", "pi", "dal", "ot", "qui"]


def _vocab(rng: random.Random, n: int) -> list[str]:
    words = set()
    while len(words) < n:
        words.add("".join(rng.choice(SYLL) for _ in range(rng.randint(2, 4))))
    return sorted(words)


def _doc(rng: random.Random, vocab: list[str], n_words: int) -> list[str]:
    return [rng.choice(STOP) if rng.random() < 0.3 else rng.choice(vocab)
            for _ in range(n_words)]


def _unit(rng, dim):
    v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
    n = sum(x * x for x in v) ** 0.5
    return [x / n for x in v]


def cmd_corpus(a) -> None:
    """Clusters are planted as (original, copies...) with the original
    holding the smallest id of its cluster, so dedup that keeps the min
    id per cluster keeps exactly the originals. Ids are shuffled so a
    cluster's members are not adjacent."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(a.seed)
    vocab = _vocab(rng, 4000)
    dim = 64
    n = DOCS
    ids = list(range(n))
    rng.shuffle(ids)
    texts, vecs = [None] * n, [None] * n
    dups: dict[str, list[int]] = {"exact": [], "near": [], "semantic": []}
    junk: list[int] = []
    pos = 0

    def take() -> int:
        nonlocal pos
        pos += 1
        return ids[pos - 1]

    n_clusters = int(n * DUP_RATE / 2)  # two copies per cluster on average
    n_junk = int(n * JUNK_RATE)
    clusters, planted = [], 0
    while pos < n - n_junk:
        kinds = []
        if planted < n_clusters and n - n_junk - pos >= 4:
            kinds = [rng.choice(("exact", "near", "semantic"))
                     for _ in range(rng.randint(1, 3))]
            planted += 1
        clusters.append((sorted(take() for _ in range(len(kinds) + 1)), kinds))
    for members, kinds in clusters:
        orig = members[0]
        words = _doc(rng, vocab, rng.randint(40, 90))
        texts[orig] = words
        vecs[orig] = _unit(rng, dim)
        for m, kind in zip(members[1:], kinds):
            if kind == "exact":
                texts[m], vecs[m] = list(words), list(vecs[orig])
            elif kind == "near":
                w = list(words)
                for _ in range(max(1, len(w) // 30)):
                    w[rng.randrange(len(w))] = rng.choice(vocab)
                texts[m], vecs[m] = w, _unit(rng, dim)
            else:
                noise = _unit(rng, dim)
                v = [x + PARAPHRASE_NOISE * y for x, y in zip(vecs[orig], noise)]
                nv = sum(x * x for x in v) ** 0.5
                texts[m] = _doc(rng, vocab, rng.randint(40, 90))
                vecs[m] = [x / nv for x in v]
            dups[kind].append(m)
    while pos < n:
        j = take()
        texts[j] = [rng.choice("!?.,;:") * rng.randint(1, 4) + rng.choice(vocab)
                    for _ in range(rng.randint(5, 20))]
        vecs[j] = _unit(rng, dim)
        junk.append(j)
    os.makedirs(a.out, exist_ok=True)
    pq.write_table(
        pa.table({"doc_id": pa.array(range(n), pa.int64()),
                  "text": [" ".join(t) for t in texts]}),
        os.path.join(a.out, "docs.parquet"))
    pq.write_table(
        pa.table({"vec_id": pa.array(range(n), pa.int64()),
                  "v": pa.array(vecs, pa.list_(pa.float32()))}),
        os.path.join(a.out, "emb.parquet"))
    _write_manifest(a.manifest, {"docs": n, "dups": dups, "junk": sorted(junk),
                                 "clusters": planted})


def _write_manifest(path: str, obj: dict) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(obj, fh)
    os.rename(tmp, path)


def main(argv: list[str]) -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = p.add_subparsers(dest="cmd", required=True)
    for name, fn in (("preload", cmd_preload), ("live", cmd_live),
                     ("backlog", cmd_backlog), ("corpus", cmd_corpus)):
        sp = sub.add_parser(name)
        sp.add_argument("--out", required=True)
        sp.add_argument("--seed", type=int, required=True)
        sp.add_argument("--manifest", required=True)
        if name in ("preload", "live"):
            sp.add_argument("--state", required=True)
        if name == "live":
            sp.add_argument("--seconds", type=float, required=True)
        if name == "backlog":
            sp.add_argument("--ticks", type=int, required=True)
        sp.set_defaults(fn=fn)
    a = p.parse_args(argv)
    a.fn(a)


if __name__ == "__main__":
    main(sys.argv[1:])
