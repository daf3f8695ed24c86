#!/usr/bin/env python3
"""Self-checks of the graft benchmark. Run from the root of a checkout:

    python3 perfbench/selfcheck.py

1. Every registry key a workload runs exists in `SparkEntry.queries`, and a
   key that does not exist stops the harness with an error before any
   timing.
2. The same seed generates byte-identical inputs; another seed changes them.
3. A replay key's timed seconds are at least the sum of its micro-batch
   durations (the timer starts before the registry call, so it covers the
   stream's construction and its run to termination).
4. A wrong pipeline output counts against ok_frac and prices the steps that
   produced it at the failure price: a pipeline run's outputs pass the
   check, then one view and then the store are corrupted on disk.

Exits non-zero on the first failed check.
"""
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import check  # noqa: E402
import gen  # noqa: E402
import pandas as pd  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def ok(msg):
    print(f'ok   {msg}')


def bad(msg):
    print(f'FAIL {msg}')
    sys.exit(1)


def keys_exist(classes):
    run_dir = os.path.join(run.WORK, 'selfcheck')
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    keys = sorted({k for w in workloads.WORKLOADS.values() for k in w.get('keys', [])})
    base = {'workload': 'selfcheck', 'seconds': 0, 'trace': 0, 'seed': 0, 'run_dir': run_dir,
            'data': run_dir, 'warm': run_dir, 'validate_only': 1}

    def harness(key_list):
        cmd = run.java_cmd(classes, dict(base, keys=','.join(key_list)), run_dir)
        return subprocess.run(cmd, cwd=run_dir, capture_output=True, text=True, timeout=120)

    p = harness(keys)
    if p.returncode != 0:
        bad(f'registry rejects workload keys: {p.stderr.strip()[-500:]}')
    ok(f'all {len(keys)} workload keys are registered')
    p = harness(keys[:1] + ['q0_no_such_key'])
    if p.returncode != 3 or 'q0_no_such_key' not in p.stderr:
        bad(f'an unknown key did not fail loudly (exit {p.returncode})')
    ok('an unknown key stops the harness (exit 3) and is named')


def digest(d):
    h = hashlib.sha256()
    for f in sorted(glob.glob(f'{d}/**/*.parquet', recursive=True)):
        h.update(os.path.relpath(f, d).encode())
        with open(f, 'rb') as fh:
            h.update(fh.read())
    return h.hexdigest()


def seeds_repeat():
    d = os.path.join(run.WORK, 'selfcheck', 'gen')
    shutil.rmtree(d, ignore_errors=True)
    for kind, make, size in (('warehouse', gen.warehouse, 0.001), ('social', gen.social, 900)):
        make(f'{d}/{kind}/a', size, 11)
        make(f'{d}/{kind}/b', size, 11)
        make(f'{d}/{kind}/c', size, 12)
        a, b, c = (digest(f'{d}/{kind}/{x}') for x in 'abc')
        if a != b:
            bad(f'{kind}: the same seed gave different bytes')
        if a == c:
            bad(f'{kind}: a different seed gave the same bytes')
        ok(f'{kind}: same seed -> identical bytes, other seed -> different bytes')


def replay_timer_covers_batches():
    wl = next(n for n, w in workloads.WORKLOADS.items()
              if any(k in w.get('keys', []) for k in ('q37_microbatch_trigger', 'q75_stateful_sessions')))
    p = subprocess.run([sys.executable, os.path.join(BENCH, 'run.py'), '--workload', wl,
                        '--seed', '1', '--seconds', '1', '--trace', '1'],
                       cwd=ROOT, capture_output=True, text=True, timeout=600)
    info = next((json.loads(line.split(' ', 1)[1]) for line in p.stdout.splitlines()
                 if line.startswith('perfbench-info: ')), None)
    if p.returncode != 0 or info is None or not info['stream_cover']:
        bad(f'traced {wl} run gave no stream progress (exit {p.returncode}): {p.stderr[-500:]}')
    short = [c for c in info['stream_cover'] if c['op_s'] < c['batch_s']]
    if short:
        bad(f'timer shorter than its micro-batches: {short}')
    ok(f'{len(info["stream_cover"])} replay calls: timed seconds >= summed batch durations')


def wrong_pipeline_output_fails(classes):
    run_dir = os.path.join(run.WORK, 'selfcheck', 'pipeline')
    shutil.rmtree(run_dir, ignore_errors=True)
    data, warm, out = (os.path.join(run_dir, d) for d in ('data', 'warm', 'out'))
    gen.social(data, 900, 5)
    gen.social(warm, 300, 6)
    res = run.run_jvm(classes, {'workload': 'pipeline', 'seconds': 0, 'trace': 0, 'seed': 5,
                                'run_dir': run_dir, 'data': data, 'warm': warm}, run_dir)
    if check.pipeline(out, data):
        bad(f'pipeline outputs wrong before any corruption: {check.pipeline(out, data)}')
    wl = dict(workloads.WORKLOADS['pipeline'], comments=900)
    units = {m: 's' for m in ('ok_frac', 'op_p50_s', 'op_p90_s', 'round_s')}
    steps = {o['name'] for o in res['ops']}

    def corrupt(output, col):
        f = glob.glob(f'{out}/views/{output}/*.parquet')[0]
        df = pd.read_parquet(f)
        df.loc[0, col] = not df.loc[0, col] if df[col].dtype == bool else df.loc[0, col] + 1
        df.to_parquet(f)

    for output, col, convicted in (('daily_counts', 'cnt', {'views'}),
                                   ('store_rows', 'is_hate_speech', steps)):
        corrupt(output, col)
        wrong = check.pipeline(out, data)
        m, attempted, failed = run.end_to_end(res, wl, wrong, units)
        n = sum(o['name'] in convicted for o in res['ops'])
        if output not in wrong or failed != n or not m['ok_frac']['value'] < 1 \
                or m['round_s']['value'] < run.FAILED_OP_S:
            bad(f'corrupted {output}: wrong={sorted(wrong)} failed={failed}/{attempted} '
                f'metrics={m}')
        ok(f'corrupted {output}: {failed}/{attempted} samples of {sorted(convicted)} failed, '
           f'ok_frac {m["ok_frac"]["value"]:.2f}, round_s priced at {run.FAILED_OP_S:.0f} s')


def main():
    classes = run.build()
    keys_exist(classes)
    seeds_repeat()
    replay_timer_covers_batches()
    wrong_pipeline_output_fails(classes)


if __name__ == '__main__':
    main()
