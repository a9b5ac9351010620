"""kgbench_summary.py on a synthetic pairs file: quartiles, wins and the
gain rule (>= 9/10 wins and a median gap larger than the base's IQR)."""

import json

import pytest

import kgbench_summary as ks

METRICS = [
    {"name": "run_s", "unit": "s", "better": "lower"},
    {"name": "setup_s", "unit": "s", "better": "lower"},
    {"name": "records_per_s", "unit": "records/s", "better": "higher"},
    {"name": "ok_frac", "unit": "fraction", "better": "higher"},
]


def _result(run_s, setup_s, records_per_s):
    values = {"run_s": run_s, "setup_s": setup_s, "records_per_s": records_per_s, "ok_frac": 1.0}
    return {"correct": True, "metrics": {k: {"value": v, "unit": "x"} for k, v in values.items()}}


def test_summary_applies_the_gain_rule(tmp_path):
    lines = []
    for i in range(10):
        seed = 700 + i
        base = _result(4.0 + 0.1 * i, 15.0 + i, 60.0 + i)
        # run_s: 9 wins, one loss; setup_s: 10 wins by 0.01 s, far inside
        # the base IQR; records_per_s: the last pair's change run is missing
        change = _result(5.0 if i == 0 else 2.0 + 0.05 * i, 14.99 + i, 150.0 + i)
        if i == 9:
            change = None
        order = [("base", base), ("change", change)]
        for side, res in order if i % 2 == 0 else order[::-1]:
            lines.append(json.dumps({"side": side, "seed": seed, "result": res}))
    path = tmp_path / "pairs.jsonl"
    path.write_text("\n".join(lines) + "\n")

    rows = {r["metric"]: r for r in ks.summarize(ks.load_pairs(str(path)), METRICS)}
    run = rows["run_s"]
    assert run["pairs"] == 10 and run["wins"] == 8  # pair 0 lost, pair 9 missing
    assert run["base"] == pytest.approx((4.225, 4.45, 4.675))
    assert not run["holds"]  # 8/10 < 9/10
    assert rows["setup_s"]["wins"] == 9 and not rows["setup_s"]["holds"]
    assert rows["setup_s"]["gap"] < rows["setup_s"]["iqr"]
    assert rows["records_per_s"]["wins"] == 9 and rows["records_per_s"]["holds"]
    assert rows["ok_frac"]["wins"] == 0 and not rows["ok_frac"]["holds"]

    bench = tmp_path / "BENCHMARK.json"
    bench.write_text(json.dumps({"end_to_end": METRICS}))
    assert ks.main([str(path), "--benchmark", str(bench)]) == 0
