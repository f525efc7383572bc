"""Layer table (workload x layer x metric) from traced-run artifacts.

    python3 perfbench/layer_table.py [ARTIFACT_DIR] [--out FILE]

Reads every perfbench/out/<workload>-seed<n>-trace.json (written by
`run.py --trace 1`) and prints, per workload, the median of each
per-layer metric across the seeds found, as a markdown table. With
--out the table is written to FILE instead.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics

HERE = os.path.dirname(os.path.abspath(__file__))


def collect(art_dir: str) -> tuple[dict, dict, dict]:
    values: dict[str, dict[str, list[float]]] = {}
    units: dict[str, str] = {}
    seeds: dict[str, list[int]] = {}
    for path in sorted(glob.glob(os.path.join(art_dir, "*-trace.json"))):
        with open(path) as f:
            art = json.load(f)
        w = art["workload"]
        seeds.setdefault(w, []).append(art["seed"])
        for name, m in art["metrics"].items():
            values.setdefault(w, {}).setdefault(name, []).append(m["value"])
            units[name] = m["unit"]
    return values, units, seeds


def render(values: dict, units: dict, seeds: dict) -> str:
    workloads = sorted(values)
    names = sorted({n for w in workloads for n in values[w]})
    lines = [
        "| layer | metric | unit | " + " | ".join(workloads) + " |",
        "|---|---|---|" + "---|" * len(workloads),
    ]
    for n in names:
        layer, _, metric = n.partition(".")
        if layer == "storage" and metric.split(".", 1)[0] in ("read", "write"):
            sub, _, metric = metric.partition(".")
            layer = f"storage.{sub}"
        cells = []
        for w in workloads:
            vs = values[w].get(n)
            cells.append(f"{statistics.median(vs):.4g}" if vs else "")
        lines.append(f"| {layer} | {metric} | {units[n]} | " + " | ".join(cells) + " |")
    src = ", ".join(f"{w}: seeds {sorted(seeds[w])}" for w in workloads)
    return (
        "Per-layer metrics, median across traced runs "
        f"({src}); operation-scope layers are per operation, "
        "session/sources per set-up.\n\n" + "\n".join(lines) + "\n"
    )


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("art_dir", nargs="?", default=os.path.join(HERE, "out"))
    p.add_argument("--out")
    args = p.parse_args()
    values, units, seeds = collect(args.art_dir)
    if not values:
        raise SystemExit(f"no *-trace.json artifacts in {args.art_dir}")
    text = render(values, units, seeds)
    if args.out:
        with open(args.out, "w") as f:
            f.write(text)
    else:
        print(text, end="")


if __name__ == "__main__":
    main()
