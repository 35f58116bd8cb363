"""Seeded input generator for the ``mr_*`` workloads.

``write_ehr_jsonl`` writes nested JSONL records shaped like the
reference's ``demo_data/ehr`` records: a patient struct, encounters/labs
arrays and free-text notes.  ``EHR_DDL`` is the declared schema handed
to ``jsonl_scan``, in the generated key order.

The same seed always gives a byte-identical file.
"""

from __future__ import annotations

import json
import os
import random
from datetime import datetime, timedelta

EHR_DDL = (
    "rec_id BIGINT, "
    "patient STRUCT<name: STRING, age: BIGINT, gender: STRING, "
    "contact: STRUCT<phone: STRING, email: STRING>>, "
    "encounters ARRAY<STRUCT<datetime: STRING, division: STRING, doctor: STRING, "
    "diagnosis: STRING>>, "
    "labs ARRAY<STRUCT<test_name: STRING, datetime: STRING, "
    "results: ARRAY<STRUCT<name: STRING, value: STRING>>>>, "
    "notes STRING"
)

_FIRST = ["Ana", "Ben", "Chen", "Dara", "Eli", "Fatima", "Gus", "Hana", "Ivo", "Jun"]
_LAST = ["Alvarez", "Brooks", "Cohen", "Diaz", "Evans", "Fischer", "Garcia", "Hughes"]
_DIVISIONS = ["cardiology", "oncology", "pediatrics", "neurology", "emergency"]
_DIAGNOSES = ["hypertension", "type 2 diabetes", "asthma", "migraine", "anemia", "none"]
_PANELS = {
    "CBC": ["Hemoglobin", "WBC", "Platelets"],
    "BMP": ["Sodium", "Potassium", "Glucose", "Creatinine"],
    "Lipid": ["LDL", "HDL", "Triglycerides"],
}
_WORDS = (
    "patient reports mild pain since last visit denies fever sleeps poorly "
    "appetite normal follow up in two weeks continue current dose review labs "
    "blood pressure stable advised exercise and diet counselled on smoking"
).split()


def _day(rng: random.Random, base: datetime) -> str:
    return (base + timedelta(days=rng.randrange(400), minutes=rng.randrange(1440))).isoformat()


def ehr_record(rng: random.Random, rec_id: int) -> dict:
    """One record; dict key order is the ``EHR_DDL`` field order."""
    base = datetime(2024, 1, 1)
    first, last = rng.choice(_FIRST), rng.choice(_LAST)
    encounters = [
        {
            "datetime": _day(rng, base),
            "division": rng.choice(_DIVISIONS),
            "doctor": f"Dr. {rng.choice(_LAST)}",
            "diagnosis": rng.choice(_DIAGNOSES),
        }
        for _ in range(rng.randint(1, 4))
    ]
    labs = []
    for _ in range(rng.randint(1, 3)):
        panel = rng.choice(sorted(_PANELS))
        labs.append(
            {
                "test_name": panel,
                "datetime": _day(rng, base),
                "results": [
                    {"name": n, "value": f"{rng.uniform(0.5, 300):.1f}"} for n in _PANELS[panel]
                ],
            }
        )
    words = [rng.choice(_WORDS) for _ in range(rng.randint(20, 80))]
    # a quoted phrase and a line break so every serialization layer has
    # to escape them
    notes = " ".join(words[:10]) + ' -- "' + " ".join(words[10:14]) + '"\n' + " ".join(words[14:])
    return {
        "rec_id": rec_id,
        "patient": {
            "name": f"{first} {last}",
            "age": rng.randint(18, 90),
            "gender": rng.choice(["F", "M", "X"]),
            "contact": {
                "phone": f"555-{rng.randrange(10000):04d}",
                "email": f"{first.lower()}.{last.lower()}{rec_id}@example.org",
            },
        },
        "encounters": encounters,
        "labs": labs,
        "notes": notes,
    }


def ehr_records(seed: int, n: int) -> list[dict]:
    rng = random.Random(seed)
    return [ehr_record(rng, i) for i in range(n)]


def write_ehr_jsonl(path: str, records: list[dict]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as f:
        for r in records:
            f.write(json.dumps(r, ensure_ascii=False) + "\n")
