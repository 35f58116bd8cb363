"""Workload definitions and their output checks.

``mr_http`` runs generated EHR records through ``plans.run_pipeline``
(a 3-instruction map, then a 1-instruction reduce) against the mock LLM
service and writes JSONL.  ``staged`` runs ``semdedup_cells``, the
registered query whose construction fires the most eager staging jobs
(k-means training, two superseded checkpoints), over the fixed sf0.01
test tables to the noop sink, freeing its staged checkpoints after
every pass.  ``TABLES`` holds a byte-for-byte copy of those test
tables, seed 42, limited to the ones the staged queries and their
oracles read (``embeddings``), so the benchmark reads nothing outside
its checkout.

The expected ``mr_http`` output is computed here in plain Python from
the generated records under echo semantics: each top-level value is
stringified (JSON text for nested values), a call's user message is
the compact JSON object of its scope's columns in record order, and
the echo service returns that message unchanged.
"""

from __future__ import annotations

import glob
import json
import os

TABLES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

# warmup_passes counts the cold pass plus the warm ones it takes before a
# pass stops getting faster as the JIT compiles (measured on 4 cores):
# mr_http waits on the service and is flat from its second pass, while
# semdedup_cells drops from 2.8 s to 1.9 s over its first eight passes.
WORKLOADS = {
    # records per pass; every record makes 3 map calls and 1 reduce call
    "mr_http": {"kind": "mr", "records": 120, "warmup_passes": 2},
    # reads the fixed sf0.01 test tables (seed 42) in TABLES
    "staged": {"kind": "staged", "tables": "sf0.01", "warmup_passes": 8,
               "queries": ["semdedup_cells"]},
}

MAP_STAGE = [
    {"name": "patient_summary", "content": "Summarize the patient and the notes.",
     "role": "clinician", "scope": ["patient", "notes"]},
    {"name": "encounter_digest", "content": "List each encounter's division and diagnosis.",
     "scope": ["encounters"]},
    {"name": "lab_flags", "content": "Flag lab values outside the reference range.",
     "output_desc": "One line per flagged value.", "scope": ["patient", "labs"]},
]
REDUCE_STAGE = [
    {"name": "summary", "content": "Merge the findings into one discharge note.",
     "scope": ["patient_summary", "encounter_digest", "lab_flags"]},
]
KEEP = "rec_id"


def _compact(value) -> str:
    return json.dumps(value, separators=(",", ":"), ensure_ascii=False)


def _stringify(value) -> str:
    return value if isinstance(value, str) else _compact(value)


def _echo_stage(row: dict, stage: list[dict]) -> dict:
    return {
        ins["name"]: _compact({k: v for k, v in row.items() if k in ins["scope"]})
        for ins in stage
    }


def expected_mr(record: dict) -> dict:
    """The pipeline's output row for ``record`` under echo semantics."""
    row = {k: _stringify(v) for k, v in record.items()}
    mapped = _echo_stage(row, MAP_STAGE)
    reduced = _echo_stage(mapped, REDUCE_STAGE)
    md = "".join(f"# {ins['name']}\n{reduced[ins['name']]}\n\n" for ins in REDUCE_STAGE)
    return {KEEP: row[KEEP], **reduced, "result_md": md}


def check_mr(out_dir: str, input_path: str) -> list[str]:
    """Compare the written JSONL with the expected rows; one line per failing record."""
    with open(input_path, encoding="utf-8") as f:
        want = {str(r[KEEP]): expected_mr(r) for r in map(json.loads, f)}
    got: dict[str, dict] = {}
    problems = []
    for part in sorted(glob.glob(os.path.join(out_dir, "part-*"))):
        with open(part, encoding="utf-8") as f:
            for line in f:
                row = json.loads(line)
                key = str(row.get(KEEP))
                if key in got:
                    problems.append(f"record {key}: written twice")
                got[key] = row
    problems += [f"record {k}: missing" for k in want if k not in got]
    problems += [f"record {k}: unexpected" for k in got if k not in want]
    problems += [
        f"record {k}: fields {sorted(c for c in want[k] if got[k].get(c) != want[k][c])} differ"
        for k in want
        if k in got and got[k] != want[k]
    ]
    return problems
