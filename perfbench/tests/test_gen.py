"""The generator is deterministic in its seed, and the expected
pipeline output follows echo semantics."""

import json

import gen
from workloads import expected_mr


def _bytes(path):
    with open(path, "rb") as f:
        return f.read()


def test_ehr_jsonl_is_identical_for_a_seed(tmp_path):
    a, b, c = (str(tmp_path / n / "r.jsonl") for n in "abc")
    gen.write_ehr_jsonl(a, gen.ehr_records(7, 50))
    gen.write_ehr_jsonl(b, gen.ehr_records(7, 50))
    gen.write_ehr_jsonl(c, gen.ehr_records(8, 50))
    assert _bytes(a) == _bytes(b)
    assert _bytes(a) != _bytes(c)


def _top_level_fields(ddl):
    depth, names, cur = 0, [], ""
    for ch in ddl + ",":
        depth += {"<": 1, ">": -1}.get(ch, 0)
        if ch == "," and depth == 0:
            names.append(cur.split()[0])
            cur = ""
        else:
            cur += ch
    return names


def test_ehr_records_follow_the_declared_key_order():
    rec = gen.ehr_records(3, 1)[0]
    assert list(rec) == _top_level_fields(gen.EHR_DDL)
    assert list(rec["patient"]) == ["name", "age", "gender", "contact"]
    assert '"' in rec["notes"] and "\n" in rec["notes"]


def test_expected_mr_output_under_echo_semantics():
    rec = {"rec_id": 4, "patient": {"name": "A \"B\"", "age": 30, "gender": "F",
                                    "contact": {"phone": "1", "email": "e"}},
           "encounters": [], "labs": [{"test_name": "CBC", "datetime": "d", "results": []}],
           "notes": "n\nm"}
    row = expected_mr(rec)
    patient = '{"name":"A \\"B\\"","age":30,"gender":"F","contact":{"phone":"1","email":"e"}}'
    mapped = {
        "patient_summary": json.dumps({"patient": patient, "notes": "n\nm"}, separators=(",", ":")),
        "encounter_digest": '{"encounters":"[]"}',
        "lab_flags": json.dumps({"patient": patient,
                                 "labs": '[{"test_name":"CBC","datetime":"d","results":[]}]'},
                                separators=(",", ":")),
    }
    summary = json.dumps(mapped, separators=(",", ":"))
    assert row == {"rec_id": "4", "summary": summary, "result_md": f"# summary\n{summary}\n\n"}
