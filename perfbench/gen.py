"""Seeded input generators for the benchmark.

Two families, both derived from the seed alone (the same seed gives
byte-identical output; the engine is never imported here):

* ``Receiving`` -- id3c receiving documents (enrollment, manifest and
  presence-absence NDJSON), the identifier and census-tract seed rows, and
  ``Expected``, the warehouse state the three ETLs must produce from them.
  Every batch after the first carries a fixed share of corrections
  (re-sent manifests, presence-absence re-tests) and of documents that hit
  the ETLs' skip rules (unknown schema version, unknown barcode, old
  format, failed sample).
* ``write_catalog_tables`` -- the TPC-H-shaped star schema plus the
  events, documents and embeddings tables that ``plans.queries`` reads,
  with the column names and types of the catalog's reference data.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import math
import os
import random
import uuid
from dataclasses import dataclass, field

SITES = [
    ("HMC", "clinic"), ("UWMC", "clinic"), ("Childrens", "hospital"),
    ("KP-Capitol-Hill", "clinic"), ("UW-Club", "kiosk"), ("SeaTac", "kiosk"),
]
TARGETS = ["Flu_A_pan", "Flu_B_pan", "RSV", "hCoV19", "Adeno", "hMPV"]
CONTROL_TARGET = "PhiX_Control"
#: (targetStatus, present); Repeat is a workflow status the ETL skips
STATUSES = [
    ("NotDetected", False), ("NotDetected", False), ("Negative", False),
    ("Detected", True), ("Positive", True), ("Indeterminate", None),
    ("Repeat", "skip"),
]
SAMPLE_TYPES = ["utm", "rdt", "saliva"]
AGE_CAP_MONTHS = 90 * 12
N_TRACTS = 24

#: shares of a batch (relative to its new units). Chosen, not measured:
#: no source gives production rates; README.md shows the batch time
#: does not depend on them
CORRECTION_SHARE = 0.10
SKIP_SHARE = 0.03

ETLS = ("enrollment", "manifest", "presence_absence")


def _uuid(rng: random.Random) -> str:
    return str(uuid.UUID(int=rng.getrandbits(128), version=4))


def tract_hierarchy(tract: str) -> dict[str, str]:
    return {"country": "us", "state": "wa", "tract": tract}


def pa_identifier(nwgc_id: int, target: str, chip: str | None) -> str:
    """presence_absence.identifier: NWGC/{sampleId}/{target}[/{chip}]."""
    parts = ["NWGC", str(nwgc_id), target] + ([chip] if chip else [])
    return "/".join(parts)


@dataclass
class Unit:
    """One participant visit: an enrollment, its manifest row and its
    presence-absence result, all keyed by pre-minted identifiers."""

    n: int
    encounter: str
    participant: str
    sex: str
    site: int
    encountered: str
    age: float
    tract: str
    household: str
    sample_uuid: str
    sample_barcode: str
    collection_uuid: str
    collection_barcode: str
    collected: dt.date
    sample_type: str
    nwgc_id: int
    chip: str | None
    results: list[tuple[str, str]]

    def age_months(self) -> int:
        if self.age >= 90:
            return AGE_CAP_MONTHS
        return min(math.floor(self.age * 12), AGE_CAP_MONTHS)


@dataclass
class Expected:
    """Warehouse state after a prefix of batches, keyed the way the
    output checks compare it."""

    sites: dict[str, str] = field(default_factory=dict)
    individuals: dict[str, str] = field(default_factory=dict)
    # encounter -> (participant, site identifier, age_months, encountered)
    encounters: dict[str, tuple[str, str, int, str]] = field(default_factory=dict)
    addresses: dict[str, str] = field(default_factory=dict)  # household -> tract
    encounter_locations: dict[str, str] = field(default_factory=dict)  # encounter -> household
    # collection uuid -> (sample uuid, collected ISO date, encounter, sample type)
    samples: dict[str, tuple[str, str, str, str]] = field(default_factory=dict)
    targets: dict[str, bool] = field(default_factory=dict)
    # presence_absence identifier -> (present, sample uuid, target)
    presence_absence: dict[str, tuple[bool | None, str, str]] = field(default_factory=dict)
    documents: dict[str, int] = field(default_factory=lambda: dict.fromkeys(ETLS, 0))
    visits: dict[str, Unit] = field(default_factory=dict)  # encounter -> its visit


class Receiving:
    """The seeded receiving log: batch 0 (the base) holds *base_units*
    visits, every later batch *batch_units* new visits plus corrections of
    earlier ones and skip-rule documents. Identifiers are minted up front
    for *max_batches* batches, as label printing does in production."""

    def __init__(self, seed: int, base_units: int, batch_units: int, max_batches: int):
        self.seed = seed
        self.base_units = base_units
        self.batch_units = batch_units
        self.max_batches = max_batches
        rng = random.Random(seed)
        self.tracts = [f"53033{rng.randrange(10**6):06d}" for _ in range(N_TRACTS)]
        total = base_units + batch_units * max_batches
        barcodes: set[str] = set()
        self.units = [self._unit(rng, n, barcodes) for n in range(total)]
        self._batches: dict[int, dict[str, list[str]]] = {}
        self._changes: dict[int, list[tuple[str, Unit, dict]]] = {}

    # --- identifiers and tracts ------------------------------------------

    def _mint(self, rng: random.Random, taken: set[str]) -> tuple[str, str]:
        """A uuid whose barcode (its last 8 hex digits) is unique."""
        while True:
            u = _uuid(rng)
            if u[-8:] not in taken:
                taken.add(u[-8:])
                return u, u[-8:]

    def _unit(self, rng: random.Random, n: int, taken: set[str]) -> Unit:
        s_uuid, s_bar = self._mint(rng, taken)
        c_uuid, c_bar = self._mint(rng, taken)
        repeat = n > 20 and rng.random() < 0.08
        participant = (
            self._returning_participant(rng, n) if repeat else f"indiv-{self.seed}-{n}"
        )
        day = dt.date(2019, 10, 1) + dt.timedelta(days=rng.randrange(240))
        secs = rng.randrange(7 * 3600, 19 * 3600)
        encountered = f"{day.isoformat()}T{secs // 3600:02d}:{secs // 60 % 60:02d}:{secs % 60:02d}Z"
        targets = rng.sample(TARGETS, rng.randint(3, 5))
        results = [(t, rng.choice(STATUSES)[0]) for t in targets] + [(CONTROL_TARGET, "Positive")]
        return Unit(
            n=n,
            encounter=f"enc-{self.seed}-{n}",
            participant=participant,
            sex=self._sex(participant),
            site=rng.randrange(len(SITES)),
            encountered=encountered,
            age=round(rng.uniform(0.1, 95.0), 1),
            tract=self.tracts[rng.randrange(N_TRACTS)],
            household=f"hh-{self.seed}-{n}",
            sample_uuid=s_uuid,
            sample_barcode=s_bar,
            collection_uuid=c_uuid,
            collection_barcode=c_bar,
            collected=day + dt.timedelta(days=rng.randrange(3)),
            sample_type=rng.choice(SAMPLE_TYPES),
            nwgc_id=100_000 + n,
            chip=f"chip-{n // 96}" if rng.random() < 0.5 else None,
            results=results,
        )

    def _returning_participant(self, rng: random.Random, n: int) -> str:
        """A returning participant, named after an earlier unit. Sex
        derives from the participant id, so every visit agrees on it."""
        return f"indiv-{self.seed}-{rng.randrange(max(1, n - self.batch_units - 20))}"

    def _sex(self, participant: str) -> str:
        return ("female", "male", "other")[sum(map(ord, participant)) % 3]

    def identifier_rows(self) -> list[tuple[str, str, int]]:
        """(uuid, barcode, identifier_set_id): set 1 samples, set 2 collections."""
        rows = []
        for u in self.units:
            rows.append((u.sample_uuid, u.sample_barcode, 1))
            rows.append((u.collection_uuid, u.collection_barcode, 2))
        return rows

    # --- documents --------------------------------------------------------

    def batch_units_of(self, b: int) -> list[Unit]:
        if b == 0:
            return self.units[: self.base_units]
        lo = self.base_units + (b - 1) * self.batch_units
        return self.units[lo: lo + self.batch_units]

    def batch(self, b: int) -> dict[str, list[str]]:
        """NDJSON lines of batch *b* for each receiving table."""
        if b not in self._batches:
            self._batches[b] = self._make_batch(b)
        return self._batches[b]

    def _make_batch(self, b: int) -> dict[str, list[str]]:
        if not 0 <= b <= self.max_batches:
            raise ValueError(f"batch {b} outside 0..{self.max_batches}")
        rng = random.Random(self.seed * 1_000_003 + b)
        new = self.batch_units_of(b)
        docs: dict[str, list[dict]] = {name: [] for name in ETLS}
        for u in new:
            docs["enrollment"].append(self._enrollment(u, u.collection_barcode.upper()))
            docs["manifest"].append(self._manifest(u, u.collected))
            docs["presence_absence"].append(self._pa(u, u.results))

        changes: list[tuple[str, Unit, dict]] = []
        if b > 0:
            earlier = self.units[: self.base_units + (b - 1) * self.batch_units]
            k = round(CORRECTION_SHARE * len(new))
            for u in rng.sample(earlier, k):
                # re-sent manifest: the collection date was corrected
                collected = u.collected + dt.timedelta(days=rng.randint(1, 5))
                docs["manifest"].append(self._manifest(u, collected))
                changes.append(("collected", u, {"collected": collected}))
            for u in rng.sample(earlier, k):
                # re-test: one target's call flips
                flips = [(t, s) for t, s in u.results if t != CONTROL_TARGET]
                target, status = rng.choice(flips)
                new_status = "Detected" if _present(status) is not True else "NotDetected"
                docs["presence_absence"].append(self._pa(u, [(target, new_status)]))
                changes.append(("retest", u, {"target": target, "status": new_status}))

        n_skip = max(1, round(SKIP_SHARE * len(new)))
        for i in range(n_skip):
            tag = f"{self.seed}-{b}-{i}"
            u = new[i % len(new)]
            # enrollment: unknown schema version (skipped) and a walk-in
            # whose swab barcode was never minted (encounter, no sample)
            docs["enrollment"].append(
                {"id": f"enc-old-{tag}", "schemaVersion": "0.9.0", "participant": f"x-{tag}"}
            )
            walk_in = Unit(**{
                **u.__dict__, "n": -1, "encounter": f"enc-walkin-{tag}",
                "participant": f"indiv-walkin-{tag}", "household": f"hh-walkin-{tag}",
            })
            walk_in.sex = self._sex(walk_in.participant)
            docs["enrollment"].append(self._enrollment(walk_in, f"ZZ{i:06d}"))
            changes.append(("walk_in", walk_in, {}))
            # manifest: barcodes nobody minted
            docs["manifest"].append({"sample": f"zz{i:06d}", "collection": None, "date": "bogus"})
            # presence-absence: old format, failed sample, unknown barcode
            docs["presence_absence"].append({"store": f"old-format-{tag}"})
            failed = self._pa(u, [(t, "Detected") for t, _ in u.results])
            failed["samples"][0]["sampleFailed"] = True
            docs["presence_absence"].append(failed)
            stranger = self._pa(u, [(TARGETS[0], "Detected")])
            stranger["samples"][0]["investigatorId"] = f"ZZ{i:06d}"
            docs["presence_absence"].append(stranger)

        self._changes[b] = changes
        out = {}
        for name, rows in docs.items():
            lines = [json.dumps(d) for d in rows]
            rng.shuffle(lines)
            out[name] = lines
        return out

    def _enrollment(self, u: Unit, swab_code: str) -> dict:
        site, site_type = SITES[u.site]
        return {
            "id": u.encounter,
            "schemaVersion": "1.1.0" if u.n % 2 else "1.0.0",
            "participant": u.participant,
            "startTimestamp": u.encountered,
            "localeLanguageCode": "en",
            "site": {"name": site, "type": site_type},
            "age": {"value": u.age, "ninetyOrAbove": u.age >= 90},
            "locations": [{"use": "home", "region": u.tract, "id": u.household}],
            "sampleCodes": [{"type": "ClinicSwab", "code": swab_code}],
            "responses": [
                {"question": {"token": "AssignedSex"},
                 "answer": {"type": "Option", "chosenOptions": [("male", "female", "other").index(u.sex)]},
                 "options": [{"token": "male"}, {"token": "female"}, {"token": "other"}]},
            ],
        }

    def _manifest(self, u: Unit, collected: dt.date) -> dict:
        return {
            "sample": u.sample_barcode,
            "collection": u.collection_barcode.upper(),
            "date": f"{collected.month}/{collected.day}/{collected.year}",
            "sample_type": u.sample_type,
            "aliquots": ["a1", "a2"],
        }

    def _pa(self, u: Unit, results: list[tuple[str, str]]) -> dict:
        return {"samples": [{
            "investigatorId": u.sample_barcode,
            "sampleId": u.nwgc_id,
            "chip": u.chip,
            "sampleFailed": False,
            "isCurrentExpressionResult": True,
            "assayName": "OpenArray",
            "assayType": "Clia",
            "targetResults": [
                {"geneTarget": t,
                 "controlStatus": "PositiveControl" if t == CONTROL_TARGET else "NotControl",
                 "targetStatus": s}
                for t, s in results
            ],
        }]}

    # --- expected warehouse state -----------------------------------------

    def expected(self, last_batch: int) -> Expected:
        """State after batches 0..*last_batch* ran in order."""
        ex = Expected()
        for b in range(last_batch + 1):
            lines = self.batch(b)
            for name in ETLS:
                ex.documents[name] += len(lines[name])
            for u in self.batch_units_of(b):
                self._enroll(ex, u)
                ex.samples[u.collection_uuid] = (
                    u.sample_uuid, u.collected.isoformat(), u.encounter, u.sample_type,
                )
                for t, s in u.results:
                    self._result(ex, u, t, s)
            for kind, u, change in self._changes[b]:
                if kind == "walk_in":
                    self._enroll(ex, u)
                elif kind == "collected":
                    sample, _, encounter, kind_ = ex.samples[u.collection_uuid]
                    ex.samples[u.collection_uuid] = (
                        sample, change["collected"].isoformat(), encounter, kind_,
                    )
                else:
                    self._result(ex, u, change["target"], change["status"])
        return ex

    def _enroll(self, ex: Expected, u: Unit) -> None:
        site, site_type = SITES[u.site]
        ex.sites[site.lower()] = site_type
        ex.individuals[u.participant] = u.sex
        ex.encounters[u.encounter] = (u.participant, site.lower(), u.age_months(), u.encountered)
        ex.visits[u.encounter] = u
        ex.addresses[u.household] = u.tract
        ex.encounter_locations[u.encounter] = u.household

    def _result(self, ex: Expected, u: Unit, target: str, status: str) -> None:
        present = _present(status)
        if present == "skip":
            return
        ex.targets[target] = target == CONTROL_TARGET
        ex.presence_absence[pa_identifier(u.nwgc_id, target, u.chip)] = (
            present, u.sample_uuid, target,
        )

    def write_batch(self, b: int, receiving_dir: str) -> int:
        """Append batch *b* to the receiving log as one NDJSON file per
        table; file names sort in batch order, so earlier documents keep
        their receiving ids. Returns the bytes written."""
        written = 0
        for name, lines in self.batch(b).items():
            d = os.path.join(receiving_dir, name)
            os.makedirs(d, exist_ok=True)
            data = ("\n".join(lines) + "\n").encode()
            with open(os.path.join(d, f"batch-{b:05d}.ndjson"), "wb") as f:
                f.write(data)
            written += len(data)
        return written


def _present(status: str) -> bool | None | str:
    return dict(STATUSES)[status]


def stable_id(*parts: str) -> int:
    """A signed 64-bit surrogate key derived from *parts*."""
    digest = hashlib.blake2b("\x1f".join(parts).encode(), digest_size=8).digest()
    return int.from_bytes(digest, "big", signed=True)


def canonical(details: dict) -> str:
    """JSON text as the warehouse merge writes it (sort_keys, compact)."""
    return json.dumps(details, sort_keys=True, separators=(",", ":"))


def warehouse_rows(gen: Receiving, ex: Expected) -> dict[str, list[tuple]]:
    """Rows, in warehouse-schema column order, of the state *ex*: what
    the enrollment, manifest and presence-absence ETLs leave behind, down
    to the text of ``details`` (the merge compares that text to decide
    whether a row changed). Used to publish the base batch's state without
    running the ETLs on it."""
    loc_id = {("tract", t): stable_id("tract", t) for t in gen.tracts}
    loc_id.update({("address", h): stable_id("address", h) for h in ex.addresses})
    rows: dict[str, list[tuple]] = {
        "location": [
            (loc_id["tract", t], t, "tract", tract_hierarchy(t), None, None, None, None)
            for t in gen.tracts
        ] + [
            (loc_id["address", h], h, "address", tract_hierarchy(t), None, None, None, None)
            for h, t in ex.addresses.items()
        ],
        # find-or-create inserts the enrollment's to_json text as is
        "site": [
            (stable_id(s), s, json.dumps({"type": t}, separators=(",", ":")))
            for s, t in ex.sites.items()
        ],
        "individual": [(stable_id(p), p, sex, None) for p, sex in ex.individuals.items()],
        "encounter": [],
        "encounter_location": [],
        "sample": [],
        "target": [(stable_id(t), t, control) for t, control in ex.targets.items()],
        "presence_absence": [],
    }
    for enc, (participant, site, age_months, encountered) in ex.encounters.items():
        u = ex.visits[enc]
        # inserted once, as the enrollment ETL's to_json writes it: fields
        # in document-schema order, nulls dropped
        details = {
            "age": {"value": u.age, "ninetyOrAbove": u.age >= 90},
            "language": "en",
            "locations": {"home": {"use": "home", "region": u.tract, "id": u.household}},
            "responses": {"AssignedSex": [u.sex]},
        }
        rows["encounter"].append((
            stable_id(enc), enc, stable_id(participant), stable_id(site),
            dt.datetime.strptime(encountered, "%Y-%m-%dT%H:%M:%SZ"),
            age_months, json.dumps(details, separators=(",", ":")),
        ))
    for enc, household in ex.encounter_locations.items():
        rows["encounter_location"].append(
            (stable_id(enc), "residence", loc_id["address", household], None)
        )
    nwgc = {}
    for ident, (_, sample, _) in ex.presence_absence.items():
        nwgc[sample] = int(ident.split("/")[1])
    for collection, (sample, collected, enc, sample_type) in ex.samples.items():
        # the manifest's details merged into the enrollment's skeletal
        # sample, then the presence-absence ETL's nwgc ids and (empty)
        # sequencing call merged on top
        details = {"aliquots": ["a1", "a2"], "sample_type": sample_type}
        if sample in nwgc:
            details.update(nwgc_id=[nwgc[sample]], sequencing_call={})
        rows["sample"].append((
            stable_id(collection), sample, collection, stable_id(enc),
            dt.date.fromisoformat(collected), canonical(details), None,
        ))
    sample_id = {s[1]: s[0] for s in rows["sample"]}
    for ident, (present, sample, target) in ex.presence_absence.items():
        rows["presence_absence"].append((
            stable_id(ident), ident, sample_id[sample], stable_id(target), present,
            canonical({"assay_type": "Clia", "device": "OpenArray"}),
        ))
    return rows


# --- catalog tables ---------------------------------------------------------

_WORDS = (
    "a the join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window spark part "
    "group big sort query fast"
).split()
_EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_PART_ADJ = ["red", "blue", "green", "small", "large", "hot", "cold", "shiny"]
_PART_NOUN = ["widget", "bolt", "plate", "ring", "gear", "spring", "valve", "nut"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]


def write_catalog_tables(seed: int, out_dir: str, rows: dict[str, int]) -> None:
    """Write one parquet file per catalog table under *out_dir*.

    *rows* gives the row counts of customer, supplier, part, orders,
    events, documents and embeddings (lineitem holds about four lines per
    order). Key ranges, vocabularies and value domains follow the reference
    tables, so every catalog query and its DuckDB oracle have work to do.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    def write(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    def money(lo: float, hi: float, n: int):
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(start: dt.date, span: int, n: int):
        base = np.datetime64(start.isoformat(), "us")
        return base + rng.integers(0, span, n).astype("timedelta64[D]").astype("timedelta64[us]")

    write("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    write("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    n_cust, n_supp, n_part, n_ord = (
        rows["customer"], rows["supplier"], rows["part"], rows["orders"],
    )
    write("customer", {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": pa.array(np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)]),
    })
    write("supplier", {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    })
    retail = np.round(900 + (np.arange(n_part) % 1000) / 10, 2)
    write("part", {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": pa.array([
            f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(np.array(_PART_TYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": retail,
    })
    write("orders", {
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": money(1000, 500000, n_ord),
        "o_orderdate": pa.array(days(dt.date(1995, 1, 1), 2400, n_ord), pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)]),
    })
    lines_per = rng.integers(1, 8, n_ord)
    n_line = int(lines_per.sum())
    l_part = rng.integers(0, n_part, n_line)
    qty = rng.integers(1, 51, n_line).astype(float)
    write("lineitem", {
        "l_orderkey": pa.array(np.repeat(np.arange(n_ord), lines_per), pa.int64()),
        "l_partkey": pa.array(l_part, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(
            np.concatenate([np.arange(1, k + 1) for k in lines_per]), pa.int32()
        ),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[l_part], 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100, 2),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_line)]),
        "l_shipdate": pa.array(days(dt.date(1995, 1, 2), 2500, n_line), pa.timestamp("us")),
    })
    n_ev = rows["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    write("events", {
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(start + offsets.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, n_ev // 66), n_ev), pa.int64()),
        "event_type": pa.array(np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)]),
        "value": money(0.01, 490.0, n_ev),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    # documents: every 20th text is a near-duplicate of its predecessor
    # (one word appended), so the dedup, graph and curation families find
    # real pairs
    n_doc = rows["documents"]
    texts: list[str] = []
    for i in range(n_doc):
        if i % 20 == 1:
            texts.append(texts[-1] + " dup")
        else:
            n_words = int(rng.integers(8, 90))
            texts.append(" ".join(np.array(_WORDS)[rng.integers(0, len(_WORDS), n_words)]))
    write("documents", {
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": pa.array(np.array(_LANGS)[rng.integers(0, len(_LANGS), n_doc)]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    # embeddings: unit vectors scattered around ten class centroids
    n_vec = rows["embeddings"]
    labels = rng.integers(0, 10, n_vec)
    centroids = rng.normal(size=(10, 64))
    vecs = centroids[labels] * 0.6 + rng.normal(size=(n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    write("embeddings", {
        "vec_id": pa.array(range(n_vec), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
