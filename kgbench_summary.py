"""Summarize the pairs file of ``make kgbench-pairs``.

    python3 kgbench_summary.py kgbench_pairs.jsonl

For each end-to-end metric of ``BENCHMARK.json`` it prints each side's
median and quartiles, how many pairs the change won and whether a gain
holds: the change wins at least nine tenths of all pairs run (a tie wins
for neither side, a pair with a missing result counts as not won), and the
medians differ in the metric's better direction by more than the base's
interquartile range.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load_pairs(path: str) -> dict[int, dict[str, dict | None]]:
    """seed -> {"base": result, "change": result} from the pairs jsonl."""
    pairs: dict[int, dict[str, dict | None]] = {}
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            if line.strip():
                rec = json.loads(line)
                pairs.setdefault(rec["seed"], {})[rec["side"]] = rec["result"]
    return pairs


def _value(result: dict | None, name: str) -> float | None:
    if not result:
        return None
    metric = result.get("metrics", {}).get(name)
    return None if metric is None else metric["value"]


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    """(first quartile, median, third quartile)."""
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(pairs: dict[int, dict[str, dict | None]], metrics: list[dict]) -> list[dict]:
    """One row per metric: both sides' quartiles, wins and the gain rule."""
    rows = []
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        both = [(_value(p.get("base"), name), _value(p.get("change"), name)) for p in pairs.values()]
        base = [b for b, _ in both if b is not None]
        change = [c for _, c in both if c is not None]
        wins = sum(
            1 for b, c in both
            if b is not None and c is not None and (c < b if lower else c > b)
        )
        row = {"metric": name, "unit": m["unit"], "better": m["better"], "pairs": len(both),
               "wins": wins, "base": quartiles(base) if base else None,
               "change": quartiles(change) if change else None, "holds": False}
        if base and change:
            b, c = row["base"][1], row["change"][1]
            row["gap"] = b - c if lower else c - b
            row["iqr"] = row["base"][2] - row["base"][0]
            row["holds"] = wins >= 0.9 * len(both) and row["gap"] > row["iqr"]
        rows.append(row)
    return rows


def _fmt(q: tuple[float, float, float] | None) -> str:
    return "no result" if q is None else f"{q[1]:.4g} [{q[0]:.4g}-{q[2]:.4g}]"


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("pairs", help="jsonl written by make kgbench-pairs")
    p.add_argument("--benchmark", default=os.path.join(HERE, "BENCHMARK.json"))
    args = p.parse_args(argv)
    with open(args.benchmark, encoding="utf-8") as fh:
        metrics = json.load(fh)["end_to_end"]
    pairs = load_pairs(args.pairs)
    print(f"{len(pairs)} pairs; median [quartiles] per side")
    for r in summarize(pairs, metrics):
        verdict = "gain holds" if r["holds"] else "no gain"
        if "gap" in r:
            verdict += f" (gap {r['gap']:.4g}, base IQR {r['iqr']:.4g})"
        print(
            f"{r['metric']} ({r['unit']}, {r['better']} is better): "
            f"base {_fmt(r['base'])}  change {_fmt(r['change'])}  "
            f"wins {r['wins']}/{r['pairs']}  {verdict}"
        )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
