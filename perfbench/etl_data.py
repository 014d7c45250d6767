"""Seeded receiving documents for the ETL workloads, with the warehouse
state they must produce.

One ``Universe`` mints every barcode, encounter and result up front from
the seed, so a workload's expected shipping-view rows are known before any
document is posted. Documents follow the shapes the ETLs parse: Audere
enrollments, barcode manifests and Samplify presence-absence results.
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass, field

TARGETS = ["Flu_A_pan", "Flu_B_pan", "RSV", "SARS-CoV-2", "hMPV", "AdV"]
CONTROL_TARGET = "PhiX_Control"
SITES = ["hmc", "uwmc", "childrens", "kiosk-1", "kiosk-2", "airport"]
SEXES = ["male", "female"]
TRACT_BASE = 53033000100


def tracts(n: int) -> list[str]:
    return [str(TRACT_BASE + 100 * i) for i in range(n)]


@dataclass
class Sample:
    """One encounter with its swab, its lab sample and its results."""

    index: int
    encounter: str
    individual: str
    sex: str
    site: str
    encountered: str          # ISO timestamp
    age_years: float
    tract: str
    sample_uuid: str
    sample_barcode: str
    collection_uuid: str
    collection_barcode: str
    nwgc_id: int
    results: dict[str, bool] = field(default_factory=dict)  # target -> present


class Universe:
    """All identities one workload run can reference, minted from *seed*."""

    def __init__(self, seed: int, n_samples: int, n_tracts: int = 40):
        self.rng = random.Random(seed)
        self.tracts = tracts(n_tracts)
        self._used: set[str] = set()
        self.samples = [self._sample(i) for i in range(n_samples)]

    def _uuid(self) -> tuple[str, str]:
        """(uuid, barcode): the barcode is the uuid's last 8 hex digits and
        unique across the universe, as the identifier authority mints them."""
        while True:
            h = f"{self.rng.getrandbits(128):032x}"
            if h[-8:] not in self._used:
                self._used.add(h[-8:])
                return f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:]}", h[-8:]

    def unknown_barcode(self) -> str:
        """A well-formed barcode the identifier authority never minted."""
        while True:
            b = f"{self.rng.getrandbits(32):08x}"
            if b not in self._used:
                return b

    def _sample(self, i: int) -> Sample:
        rng = self.rng
        s_uuid, s_bc = self._uuid()
        c_uuid, c_bc = self._uuid()
        day = rng.randrange(0, 365)
        month_day = _date(day)
        n_targets = rng.randint(2, 4)
        results = {t: rng.random() < 0.2 for t in rng.sample(TARGETS, n_targets)}
        indiv = i // 2   # two encounters per individual, fixed sex
        return Sample(
            index=i,
            encounter=f"enc-{i:07d}",
            individual=f"indiv-{indiv:07d}",
            sex=SEXES[indiv % 2],
            site=rng.choice(SITES),
            encountered=f"{month_day}T{rng.randrange(8, 18):02d}:{rng.randrange(60):02d}:00Z",
            age_years=round(rng.uniform(0.5, 95.0), 1),
            tract=rng.choice(self.tracts),
            sample_uuid=s_uuid,
            sample_barcode=s_bc,
            collection_uuid=c_uuid,
            collection_barcode=c_bc,
            nwgc_id=100_000 + i,
            results=results,
        )

    def identifier_rows(self) -> list[tuple[str, str, int]]:
        """(uuid, barcode, identifier_set_id): set 1 samples, set 2 collections."""
        rows = [(s.sample_uuid, s.sample_barcode, 1) for s in self.samples]
        rows += [(s.collection_uuid, s.collection_barcode, 2) for s in self.samples]
        return rows


def _date(day_of_year: int) -> str:
    import datetime as dt

    return (dt.date(2020, 1, 1) + dt.timedelta(days=day_of_year)).isoformat()


def enrollment_doc(s: Sample, schema_version: str = "1.1.0") -> str:
    return json.dumps({
        "id": s.encounter,
        "schemaVersion": schema_version,
        "participant": s.individual,
        "startTimestamp": s.encountered,
        "site": {"name": s.site.upper(), "type": "clinic"},
        "age": {"value": s.age_years, "ninetyOrAbove": s.age_years >= 90},
        "locations": [{"use": "home", "region": s.tract}],
        "sampleCodes": [{"type": "ClinicSwab", "code": s.collection_barcode.upper()}],
        "responses": [
            {"question": {"token": "AssignedSex"},
             "answer": {"type": "Option", "chosenOptions": [SEXES.index(s.sex)]},
             "options": [{"token": t} for t in SEXES]},
        ],
    })


def manifest_doc(s: Sample) -> str:
    y, m, d = s.encountered[:10].split("-")
    return json.dumps({
        "sample": s.sample_barcode,
        "collection": s.collection_barcode.upper(),
        "date": f"{int(m)}/{int(d)}/{y}",
        "sample_type": "utm",
    })


def pa_doc(s: Sample, targets: list[str] | None = None) -> str:
    """Results for *targets* (default: all of the sample's), plus a
    positive control that the shipping view filters out."""
    names = targets if targets is not None else sorted(s.results)
    results = [
        {"geneTarget": t, "controlStatus": "NotControl",
         "targetStatus": "Detected" if s.results[t] else "NotDetected"}
        for t in names
    ]
    results.append({"geneTarget": CONTROL_TARGET, "controlStatus": "PositiveControl",
                    "targetStatus": "Positive"})
    return json.dumps({"samples": [{
        "investigatorId": s.sample_barcode.upper(),
        "sampleId": s.nwgc_id,
        "chip": None,
        "sampleFailed": False,
        "isCurrentExpressionResult": True,
        "assayName": "OpenArray",
        "targetResults": results,
    }]})


def unknown_barcode_pa_doc(barcode: str, nwgc_id: int) -> str:
    """Skip rule: a result for a barcode the authority never minted."""
    return json.dumps({"samples": [{
        "investigatorId": barcode.upper(), "sampleId": nwgc_id, "chip": None,
        "sampleFailed": False, "isCurrentExpressionResult": True,
        "targetResults": [{"geneTarget": "RSV", "controlStatus": "NotControl",
                           "targetStatus": "Detected"}],
    }]})


OLD_FORMAT_PA_DOC = json.dumps({"store": "old-format"})   # skip rule
REJECTED_BODY = json.dumps(["not", "an", "object"])        # API answers 400


def unknown_version_enrollment_doc(s: Sample) -> str:
    """Skip rule: an enrollment under a schemaVersion the ETL refuses."""
    return enrollment_doc(s, schema_version="9.9.9")


@dataclass
class Batch:
    """Documents for one ETL batch by receiving endpoint, the bodies the API
    must reject, and the samples whose shipping rows the batch changes."""

    enrollments: list[str] = field(default_factory=list)
    manifests: list[str] = field(default_factory=list)
    presence_absence: list[str] = field(default_factory=list)
    rejected: list[str] = field(default_factory=list)
    touched: list[Sample] = field(default_factory=list)


def new_samples_batch(samples: list[Sample]) -> Batch:
    b = Batch()
    for s in samples:
        b.enrollments.append(enrollment_doc(s))
        b.manifests.append(manifest_doc(s))
        b.presence_absence.append(pa_doc(s))
    b.touched = list(samples)
    return b


def correct(u: Universe, b: Batch, earlier: list[Sample]) -> None:
    """Append corrections of *earlier* samples to *b*: a re-test that flips
    one target's ``present`` and, for every other sample, an updated
    enrollment whose age moved by a year. Each key appears once per batch."""
    for j, s in enumerate(earlier):
        t = u.rng.choice(sorted(s.results))
        s.results[t] = not s.results[t]
        b.presence_absence.append(pa_doc(s, [t]))
        if j % 2 == 0:
            s.age_years = round(min(s.age_years + 1.0, 95.0), 1)
            b.enrollments.append(enrollment_doc(s))
        b.touched.append(s)


def add_skip_docs(u: Universe, b: Batch, n_each: int) -> None:
    """Deliberate skip-rule documents the ETLs accept and then ignore, plus
    bodies the API must reject."""
    for k in range(n_each):
        b.presence_absence.append(unknown_barcode_pa_doc(u.unknown_barcode(), 900_000 + k))
        b.presence_absence.append(OLD_FORMAT_PA_DOC)
        ghost = u.samples[u.rng.randrange(len(u.samples))]
        b.enrollments.append(unknown_version_enrollment_doc(ghost))
        b.rejected.append(REJECTED_BODY)


def expected_rows(samples: list[Sample]) -> set[tuple[str, str, str, bool]]:
    """(encounter, sample uuid, target, present) rows the
    observation_with_presence_absence_result_v1 view must hold."""
    return {
        (s.encounter, s.sample_uuid, t, p)
        for s in samples for t, p in s.results.items()
    }
