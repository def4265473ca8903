"""Seeded corpus for the conversion service.

Objects are reference-shaped multi-line person documents; notifications
are S3 ObjectCreated event bodies naming URL-encoded keys. The mix holds
multi-record notifications, redelivered notifications, keys with spaces,
malformed objects, ages above the int8 range and missing fields. The
manifest states what each object must convert to, derived from the
conversion contract: one row per well-formed object, age narrowed to
int8 or NULL when out of range, absent fields NULL, malformed objects
dropped.
"""
import json
import os
import random
import urllib.parse

# keys of the warm phase: as many as one drain micro-batch carries, so a
# batch of that size is warm too
WARM_KEYS = 30
# share of notifications delivered twice (at-least-once redelivery)
REDELIVER = 0.05
# keys per drain notification
DRAIN_RECORDS = 3
NATIONALITIES = ["IN", "US", "CM", "DE", "BR", "JP", "NG", "FR"]
NAMES = ["Asha", "Bruno", "Chen", "Dana", "Émile", "Farah", "Goran", "Hana",
         "Ibrahim", "José", "Kofi", "Lena", "Mina", "Nils", "Oona", "Priya"]


class Plan:
    """Shape of one service run."""

    def __init__(self, rate, steady_s, drain_keys):
        self.rate = rate                # mean steady arrivals per second
        self.steady_s = steady_s        # steady phase length
        self.drain_keys = drain_keys    # backlog size of one drain phase


def _person(rng, i):
    """Return (document text, expected row or None, flags)."""
    doc = {"ID": f"{rng.getrandbits(48):012x}",
           "name": f"{rng.choice(NAMES)} {i}",
           "nationality": rng.choice(NATIONALITIES),
           "age": rng.randint(0, 100)}
    kind = rng.random()
    flags = {"corrupt": 0, "age_nulled": 0}
    if kind < 0.06:
        doc["age"] = rng.randint(128, 1000)
        flags["age_nulled"] = 1
    elif kind < 0.12:
        del doc[rng.choice(["age", "nationality", "name"])]
    text = json.dumps(doc, indent=4, ensure_ascii=False) + "\n"
    if 0.12 <= kind < 0.15:
        # truncated mid-document: not JSON at all
        text = text[: len(text) // 2]
    elif 0.15 <= kind < 0.17:
        # well-formed JSON whose age is not a number
        text = text.replace(f'"age": {doc["age"]}', '"age": "unknown"')
    if 0.12 <= kind < 0.17:
        flags["corrupt"] = 1
        return text, None, flags
    row = {"ID": doc["ID"], "name": doc.get("name"),
           "nationality": doc.get("nationality"),
           "age": None if flags["age_nulled"] else doc.get("age")}
    return text, row, flags


def _key(rng, i):
    team = rng.choice(["team a", "team-b", "ops"])
    name = f"person {i:05d}.json" if rng.random() < 0.3 else f"person-{i:05d}.json"
    return f"incoming/{team}/{name}"


def _body(keys):
    return json.dumps({"Records": [
        {"eventName": "ObjectCreated:Put",
         "s3": {"bucket": {"name": "bucket"},
                "object": {"key": urllib.parse.quote_plus(k, safe="/"),
                           "size": 1}}} for k in keys]}, indent=2) + "\n"


def generate(seed, plan, bucket, stage, with_traced_drain):
    """Write objects under `bucket` and notifications under `stage`.
    Returns (schedule rows (phase, file, offset_s), manifest)."""
    rng = random.Random(seed)
    manifest = {}
    notes = {}
    schedule = []
    counter = [0]

    def new_keys(n):
        keys = []
        for _ in range(n):
            i = counter[0]
            counter[0] += 1
            key = _key(rng, i)
            text, row, flags = _person(rng, i)
            path = os.path.join(bucket, key)
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "w", encoding="utf-8") as f:
                f.write(text)
            manifest[key] = {"rows": [row] if row else [], **flags}
            keys.append(key)
        return keys

    def note(phase, keys, offset):
        name = f"{phase}-{len(schedule):05d}.json"
        with open(os.path.join(stage, name), "w") as f:
            f.write(_body(keys))
        notes[name] = keys
        schedule.append((phase, name, offset))

    # warm: 1-5 keys per notification, some redelivered
    keys = new_keys(WARM_KEYS)
    while keys:
        k = rng.randint(1, 5)
        chunk, keys = keys[:k], keys[k:]
        note("warm", chunk, 0.0)
        if rng.random() < REDELIVER:
            note("warm", chunk, 0.0)

    def drain(phase):
        # a fixed shape, so every seed drains in the same number of
        # micro-batches
        keys = new_keys(plan.drain_keys)
        for i in range(0, len(keys), DRAIN_RECORDS):
            note(phase, keys[i:i + DRAIN_RECORDS], 0.0)

    # a fixed count at uniformly random times: arrivals land at every
    # phase of the 1 s trigger clock, not at a few fixed ones
    n = int(plan.rate * plan.steady_s)
    steady = new_keys(n)
    offsets = sorted(rng.uniform(0, plan.steady_s) for _ in range(n))
    for j, (key, off) in enumerate(zip(steady, offsets)):
        note("steady", [key], off)
        # an at-least-once redelivery of an earlier notification
        if j >= 4 and rng.random() < REDELIVER:
            note("steady", [steady[rng.randint(0, j - 1)]], off)
    drain("drain")
    if with_traced_drain:
        drain("drain_traced")
        drain("drain_after")
    return schedule, manifest, notes
