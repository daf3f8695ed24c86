#!/usr/bin/env python3
"""Compare two sets of benchmark runs (parent vs change).

    python3 perfbench/compare.py <base.jsonl> <change.jsonl>

Each file holds runs appended by `run.py --record` (untraced runs only are
compared). For each workload and end-to-end metric it prints both medians
and quartiles, the pair wins of the change (runs paired by seed), and a
verdict:

* improved   - the change wins at least 9/10 of >= 10 pairs (ties count for
               neither) and the medians differ by more than the base's own
               quartile spread;
* unresolved - the base's spread (IQR / median) is wider than the metric's
               bound and not every change run beats every base run;
* worse      - the change's median is worse than the base's by more than the
               bound in BENCHMARK.json;
* no worse   - otherwise.

It refuses to compare sets run at different core counts, seconds or seeds.
"""
import json
import os
import statistics
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))


def load(path):
    with open(path) as fh:
        runs = [json.loads(line) for line in fh if line.strip()]
    return [r for r in runs if r['trace'] == 0]


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(base, change, better, bound):
    """base/change: {seed: value}. Returns (wins, pairs, verdict)."""
    sign = 1 if better == 'lower' else -1  # sign * (b - a) < 0 means b is better
    pairs = [(base[s], change[s]) for s in sorted(base) if s in change]
    wins = sum(1 for a, b in pairs if sign * (b - a) < 0)
    a_vals, b_vals = list(base.values()), list(change.values())
    q1, med_a, q3 = quartiles(a_vals)
    med_b = statistics.median(b_vals)
    better_med = sign * (med_b - med_a) < 0
    if len(pairs) >= 10 and wins >= 0.9 * len(pairs) and better_med \
            and abs(med_b - med_a) > q3 - q1:
        return wins, len(pairs), 'improved'
    all_better = all(sign * (b - a) < 0 for a in a_vals for b in b_vals)
    if med_a and (q3 - q1) / abs(med_a) > bound and not all_better:
        return wins, len(pairs), 'unresolved'
    if med_a and sign * (med_b - med_a) / abs(med_a) > bound:
        return wins, len(pairs), 'worse'
    return wins, len(pairs), 'no worse'


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    with open(os.path.join(os.path.dirname(BENCH), 'BENCHMARK.json')) as fh:
        spec = {m['name']: m for m in json.load(fh)['end_to_end']}
    a_runs, b_runs = load(sys.argv[1]), load(sys.argv[2])
    for field in ('cpus', 'seconds'):
        va, vb = {r[field] for r in a_runs}, {r[field] for r in b_runs}
        if va != vb or len(va) != 1:
            sys.exit(f'refusing to compare: {field} differs ({sorted(va)} vs {sorted(vb)})')
    workloads = sorted({r['workload'] for r in a_runs} | {r['workload'] for r in b_runs})
    print(f'{"workload":14} {"metric":14} {"base median [q1, q3]":34} '
          f'{"change median [q1, q3]":34} {"wins":>7}  verdict')
    for wl in workloads:
        ra = [r for r in a_runs if r['workload'] == wl]
        rb = [r for r in b_runs if r['workload'] == wl]
        sa, sb = sorted(r['seed'] for r in ra), sorted(r['seed'] for r in rb)
        if sa != sb:
            sys.exit(f'refusing to compare {wl}: seeds differ ({sa} vs {sb})')
        for name, m in spec.items():
            base = {r['seed']: r['result']['metrics'][name]['value'] for r in ra}
            change = {r['seed']: r['result']['metrics'][name]['value'] for r in rb}
            q1a, ma, q3a = quartiles(list(base.values()))
            q1b, mb, q3b = quartiles(list(change.values()))
            wins, n, v = verdict(base, change, m['better'], m['bound'])
            print(f'{wl:14} {name:14} {ma:11.4g} [{q1a:.4g}, {q3a:.4g}]{"":6} '
                  f'{mb:11.4g} [{q1b:.4g}, {q3b:.4g}]{"":6} {wins:>3}/{n:<3}  {v}')


if __name__ == '__main__':
    main()
