"""Seeded input generator for the benchmark.

Everything the workloads feed the program comes from here and depends
only on the seed passed in: FHIR resources written as searchset bundle
pages, the daily change-sets applied between sync passes, and the
streaming pages. The same seed gives byte-identical pages (checked by
``test_perfbench.py``).
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass, field

# The reference syncs these four types; the mix is roughly what a
# clinical FHIR server holds (few patients, many observations).
TYPE_MIX = (
    ("Patient", 0.10),
    ("Specimen", 0.10),
    ("Condition", 0.20),
    ("Observation", 0.60),
)

# A daily change-set's share of each type's resources.
UPDATE_RATE, DELETE_RATE, INSERT_RATE = 0.01, 0.002, 0.002

_WORDS = (
    "patient stable afebrile denies pain follow up normal review labs "
    "history noted plan continue medication dose daily sample collected "
    "blood serum result within range elevated reduced monitor clinic "
    "visit referral imaging chest clear mild moderate severe acute"
).split()


def _narrative(rng: random.Random, n_chars: int) -> str:
    out, size = [], 0
    while size < n_chars:
        w = rng.choice(_WORDS)
        out.append(w)
        size += len(w) + 1
    return " ".join(out)


def resource_json(rtype: str, rid: str, version: int, rng_seed: int) -> str:
    """One FHIR resource of realistic size (about 0.5-3 KB).

    The body depends only on its arguments, so a resource is
    regenerated identically from ``(rtype, rid, version, rng_seed)``."""
    rng = random.Random(f"{rng_seed}:{rid}:{version}")
    res: dict = {
        "resourceType": rtype,
        "id": rid,
        "meta": {
            "versionId": str(version),
            "lastUpdated": f"2024-{1 + version % 12:02d}-{1 + rng.randrange(28):02d}"
            f"T{rng.randrange(24):02d}:{rng.randrange(60):02d}:00Z",
        },
        "identifier": [
            {"system": "urn:bench:mrn", "value": f"{rid}-{rng.randrange(10**8)}"}
        ],
        "text": {
            "status": "generated",
            "div": _narrative(rng, rng.randrange(300, 2400)),
        },
    }
    if rtype == "Patient":
        res["gender"] = rng.choice(("male", "female", "other"))
        res["birthDate"] = f"{rng.randrange(1930, 2020)}-{1 + rng.randrange(12):02d}-01"
        res["name"] = [{"family": f"Fam{rng.randrange(5000)}", "given": [f"G{rng.randrange(900)}"]}]
    else:
        res["subject"] = {"reference": f"Patient/pat-{rng.randrange(100000)}"}
        res["code"] = {
            "coding": [
                {"system": "http://loinc.org", "code": f"{rng.randrange(10000, 99999)}-{rng.randrange(10)}"}
            ]
        }
        if rtype == "Observation":
            res["status"] = "final"
            res["valueQuantity"] = {"value": round(rng.uniform(0, 300), 2), "unit": "mg/dL"}
    return json.dumps(res, separators=(",", ":"))


def type_counts(total: int) -> dict[str, int]:
    counts = {t: int(total * share) for t, share in TYPE_MIX}
    counts["Observation"] += total - sum(counts.values())
    return counts


@dataclass
class Corpus:
    """The source FHIR server's state: per type, ``id -> version``.

    ``apply_day`` advances it by one seeded daily change-set;
    ``write_pages`` writes the current snapshot as bundle pages, which
    is what a sync pass reads."""

    seed: int
    total: int
    page_size: int = 500
    versions: dict[str, dict[str, int]] = field(default_factory=dict)
    _next_id: dict[str, int] = field(default_factory=dict)
    _rng: random.Random = field(init=False)
    _bodies: dict[tuple[str, int], str] = field(default_factory=dict, repr=False)

    def __post_init__(self) -> None:
        self._rng = random.Random(self.seed)
        for rtype, n in type_counts(self.total).items():
            prefix = rtype[:3].lower()
            self.versions[rtype] = {f"{prefix}-{i:07d}": 1 for i in range(n)}
            self._next_id[rtype] = n

    def body(self, rtype: str, rid: str) -> str:
        v = self.versions[rtype][rid]
        key = (rid, v)
        b = self._bodies.get(key)
        if b is None:
            b = self._bodies[key] = resource_json(rtype, rid, v, self.seed)
        return b

    def apply_day(self) -> dict[str, int]:
        """One daily change-set: about 1% updates, 0.2% deletes and
        0.2% inserts of each type. Returns the op counts."""
        ops = {"update": 0, "delete": 0, "insert": 0}
        for rtype, vers in self.versions.items():
            ids = sorted(vers)
            n = len(ids)
            k_upd, k_del, k_ins = (max(1, round(n * r)) for r in (UPDATE_RATE, DELETE_RATE, INSERT_RATE))
            picked = self._rng.sample(ids, k_upd + k_del)
            for rid in picked[:k_upd]:
                vers[rid] += 1
            for rid in picked[k_upd:]:
                del vers[rid]
            prefix = rtype[:3].lower()
            for _ in range(k_ins):
                vers[f"{prefix}-{self._next_id[rtype]:07d}"] = 1
                self._next_id[rtype] += 1
            ops["update"] += k_upd
            ops["delete"] += k_del
            ops["insert"] += k_ins
        return ops

    def write_pages(self, root: str) -> dict[str, str]:
        """Write every type's snapshot as searchset bundle pages under
        ``root/<type>/``, replacing earlier pages. Returns the
        directory per type."""
        dirs = {}
        for rtype, vers in self.versions.items():
            d = os.path.join(root, rtype.lower())
            os.makedirs(d, exist_ok=True)
            for f in os.listdir(d):
                os.remove(os.path.join(d, f))
            ids = sorted(vers)
            for p in range(0, len(ids), self.page_size):
                write_bundle(
                    os.path.join(d, f"page_{p // self.page_size:05d}.json"),
                    [self.body(rtype, rid) for rid in ids[p : p + self.page_size]],
                )
            dirs[rtype] = d
        return dirs

    def expected(self, rtype: str) -> dict[str, int]:
        return dict(self.versions[rtype])


def write_bundle(path: str, bodies: list[str]) -> None:
    """Write one searchset bundle page atomically (write, then rename),
    so a streaming reader never sees a partial page."""
    entries = ",".join('{"resource":' + b + "}" for b in bodies)
    text = (
        '{"resourceType":"Bundle","type":"searchset","total":'
        f"{len(bodies)},\"entry\":[{entries}]}}"
    )
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(text)
    os.replace(tmp, path)


def stream_page(
    seed: int, page_no: int, existing: list[str], size: int, versions: dict[str, int],
    next_id: int,
) -> tuple[list[tuple[str, str, int]], int]:
    """One streaming page of Patients: half updates of ``existing`` ids
    (version bumped in ``versions``), half new ids. Returns the page's
    ``(id, body, version)`` triples and the next free id number."""
    rng = random.Random(f"{seed}:page:{page_no}")
    out = []
    for rid in rng.sample(existing, size // 2):
        versions[rid] += 1
        out.append((rid, resource_json("Patient", rid, versions[rid], seed), versions[rid]))
    for _ in range(size - size // 2):
        rid = f"pat-{next_id:07d}"
        next_id += 1
        versions[rid] = 1
        existing.append(rid)
        out.append((rid, resource_json("Patient", rid, 1, seed), 1))
    return out, next_id
