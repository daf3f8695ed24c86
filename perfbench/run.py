#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                             [--record <file.jsonl>]

Run from the root of a graft checkout. Builds the engine and the harness from
source when they changed (sbt, offline), generates the workload's inputs from
the seed, runs one JVM at local[4] for the timed rounds, checks every output
outside the timed region, and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics are
the end-to-end ones, with --trace 1 the per-layer ones (see METRICS.md).
--record appends the run (with its provenance) to a JSONL file for
`compare.py`.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, '.work')
sys.path.insert(0, BENCH)

import check  # noqa: E402
import gen  # noqa: E402
import workloads  # noqa: E402

HARNESS_CPUS = 4  # the harness runs Spark at local[4] (Harness.Cpus)
JVM_TIMEOUT_S = 150
FAILED_OP_S = 60.0  # a failed operation is priced at this, never at its own time
JDK_OPENS = ['java.base/java.lang', 'java.base/java.lang.invoke',
             'java.base/java.lang.reflect', 'java.base/java.io', 'java.base/java.net',
             'java.base/java.nio', 'java.base/java.util',
             'java.base/java.util.concurrent', 'java.base/java.util.concurrent.atomic',
             'java.base/sun.nio.ch', 'java.base/sun.nio.cs',
             'java.base/sun.security.action', 'java.base/sun.util.calendar']


def fail(msg, code=2):
    print(f'perfbench: {msg}', file=sys.stderr)
    sys.exit(code)


def spec():
    """BENCHMARK.json: the workload names and every metric's unit and
    direction."""
    path = os.path.join(ROOT, 'BENCHMARK.json')
    if not os.path.isfile(path):
        fail('no BENCHMARK.json: run from the root of a graft checkout')
    with open(path) as fh:
        return json.load(fh)


def sources():
    pats = [os.path.join(ROOT, 'src', 'main', '**', '*'),
            os.path.join(BENCH, 'src', '**', '*'),
            os.path.join(BENCH, 'build.sbt'), os.path.join(BENCH, 'project', '*.properties')]
    return sorted(f for p in pats for f in glob.glob(p, recursive=True) if os.path.isfile(f))


def build():
    """Compile graft's sources with the harness unless the classes are
    current (stamp = hash of every source file)."""
    if not os.path.isfile(os.path.join(ROOT, 'src', 'main', 'scala', 'graft', 'SparkEntry.scala')):
        fail('no graft sources under src/main/scala: run from the root of a graft checkout')
    h = hashlib.sha256()
    for f in sources():
        h.update(f.encode())
        with open(f, 'rb') as fh:
            h.update(fh.read())
    stamp_file = os.path.join(WORK, 'build.stamp')
    classes = os.path.join(BENCH, 'target', 'scala-2.13', 'classes')
    if os.path.isdir(classes) and os.path.isfile(stamp_file) and \
            open(stamp_file).read() == h.hexdigest():
        return classes
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE='offline')
    env.setdefault('SBT_OPTS', '-Dsbt.offline=true -Xmx2g')
    log = os.path.join(WORK, 'build.log')
    with open(log, 'w') as out:
        rc = subprocess.run(['sbt', '--batch', '-Dsbt.log.noformat=true', '-Dsbt.boot.lock=false',
                             'compile'],
                            cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=800).returncode
    if rc != 0:
        fail(f'build failed (see {os.path.relpath(log, ROOT)})', 4)
    with open(stamp_file, 'w') as fh:
        fh.write(h.hexdigest())
    return classes


def spark_jars():
    home = os.environ.get('SPARK_HOME')
    if not home:
        submit = shutil.which('spark-submit')
        if not submit:
            fail('SPARK_HOME is not set and spark-submit is not on PATH')
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return os.path.join(home, 'jars', '*')


def java_cmd(classes, args, run_dir):
    java = os.path.join(os.environ['JAVA_HOME'], 'bin', 'java') \
        if os.environ.get('JAVA_HOME') else 'java'
    tmp = os.path.join(run_dir, 'tmp')
    os.makedirs(tmp, exist_ok=True)
    return [java] + [x for p in JDK_OPENS for x in ('--add-opens', f'{p}=ALL-UNNAMED')] + [
        '-Xms3g', '-Xmx3g', '-Xmn768m', '-XX:ReservedCodeCacheSize=512m', f'-Djava.io.tmpdir={tmp}',
        f'-Dderby.system.home={run_dir}', '-Dspark.ui.enabled=false',
        '-cp', f'{classes}{os.pathsep}{spark_jars()}', 'perfbench.Harness'] + \
        [f'{k}={v}' for k, v in args.items()]


def run_jvm(classes, args, run_dir):
    cmd = java_cmd(classes, args, run_dir)
    log = os.path.join(run_dir, 'jvm.log')
    with open(log, 'w') as out:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f'harness JVM exceeded {JVM_TIMEOUT_S} s', 5)
        finally:
            # graft keeps stream replay checkpoints in a per-process tmpfs dir
            # (stream.Streaming.replayCheckpointBase) and never deletes it
            shutil.rmtree(f'/dev/shm/graft_stream_ckpt_{p.pid}', ignore_errors=True)
    if rc != 0:
        tail = open(log).read()[-2000:]
        fail(f'harness JVM exited with {rc}:\n{tail}', 5 if rc != 3 else 3)
    with open(os.path.join(run_dir, 'result.json')) as fh:
        return json.load(fh)


def pct(xs, q):
    """Nearest-rank percentile of a non-empty list."""
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, int(-(-q * len(s) // 1)) - 1))]


def wrong_ops(bad, op_names):
    """The operations a set of wrong outputs ({output: reason}) convicts. A
    registry output is named after its key and a harness write error after
    its operation; a pipeline output convicts the steps that produced it
    (check.PIPELINE_STEPS). An output of unknown origin convicts them all."""
    wrong = set()
    for k in bad:
        wrong.update([k] if k in op_names else check.PIPELINE_STEPS.get(k, op_names))
    return wrong


def end_to_end(res, wl, bad, units):
    """End-to-end metrics of one untraced run. A failed or wrongly answered
    operation counts in ok_frac and is priced at FAILED_OP_S in every timing,
    so a failure can never read as a speed-up."""
    ops = res['ops']
    wrong = wrong_ops(bad, {o['name'] for o in ops})

    def failed(o):
        return not o['ok'] or o['name'] in wrong

    def price(o):
        return FAILED_OP_S if failed(o) else o['s']

    warm = [o for o in ops if o['round'] > 0]
    lat = [price(o) for o in warm]
    rounds = {}
    for o in ops:
        rounds[o['round']] = rounds.get(o['round'], 0.0) + price(o)
    warm_rounds = [v for r, v in rounds.items() if r > 0]
    if wl['kind'] == 'pipeline':
        # each step has its own metric: incr (dedup + append) as op_p50_s,
        # ingest (the full enrichment + store write) as op_p90_s
        def step(name):
            return statistics.median([price(o) for o in warm if o['name'] == name])
        p50, p90 = step('incr'), step('ingest')
        items = wl['comments'] / p90
    else:
        p50, p90 = statistics.median(lat), pct(lat, 0.9)
        items = len(warm) / sum(lat)
    m = {
        'setup_s': res['setup_s'],
        'ok_frac': 1.0 - sum(map(failed, ops)) / len(ops),
        'peak_rss_mb': res['peak_rss_mb'],
        'op_p50_s': p50,
        'op_p90_s': p90,
        'round_s': statistics.median(warm_rounds),
        'first_round_s': rounds[0],
        'items_per_s': items,
    }
    return ({k: {'value': m[k], 'unit': u} for k, u in units.items()},
            len(ops), sum(map(failed, ops)))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split('\n')[0])
    ap.add_argument('--workload', required=True)
    ap.add_argument('--seed', type=int, required=True)
    ap.add_argument('--seconds', type=float, required=True)
    ap.add_argument('--trace', type=int, choices=[0, 1], default=0)
    ap.add_argument('--record')
    a = ap.parse_args()
    bench = spec()
    names = [w['name'] for w in bench['workloads']]
    wl = workloads.WORKLOADS.get(a.workload)
    if wl is None or a.workload not in names:
        fail(f'unknown workload {a.workload!r}; known: {", ".join(names)}')
    classes = build()

    run_dir = os.path.join(WORK, 'run')
    shutil.rmtree(run_dir, ignore_errors=True)
    data, warm = os.path.join(run_dir, 'data'), os.path.join(run_dir, 'warm')
    t0 = time.time()
    if wl['kind'] == 'pipeline':
        gen.social(data, wl['comments'], a.seed)
        gen.social(warm, wl['warm_comments'], a.seed + 7919)
    else:
        gen.warehouse(data, wl['sf'], a.seed)
        gen.warehouse(warm, workloads.WARM_SF, a.seed + 7919)
    gen_s = time.time() - t0
    args = {'workload': a.workload, 'seconds': a.seconds, 'trace': a.trace, 'seed': a.seed,
            'run_dir': run_dir, 'data': data, 'warm': warm,
            'keys': ','.join(wl.get('keys', []))}
    res = run_jvm(classes, args, run_dir)

    out = os.path.join(run_dir, 'out')
    if wl['kind'] == 'pipeline':
        bad = check.pipeline(out, data)
    else:
        bad = check.registry(out, data, wl['keys'])
    bad.update({k: f'output pass failed: {v}' for k, v in res['check_errors'].items()})
    for k, v in sorted(bad.items()):
        print(f'perfbench: WRONG {k}: {v}', file=sys.stderr)

    e2e, attempted, failed = end_to_end(res, wl, bad,
                                        {m['name']: m['unit'] for m in bench['end_to_end']})
    s0, s1 = res['sentinel']['start'], res['sentinel']['end']
    cpus = len(os.sched_getaffinity(0))
    if cpus < HARNESS_CPUS:
        print(f'perfbench: only {cpus} cores for local[{HARNESS_CPUS}]: run flagged',
              file=sys.stderr)
    info = {'workload': a.workload, 'seed': a.seed, 'seconds': a.seconds, 'trace': a.trace,
            'cpus': cpus, 'cpus_short': cpus < HARNESS_CPUS, 'gen_s': round(gen_s, 3),
            'rounds': [round(r['s'], 4) for r in res['rounds']],
            'samples': len([o for o in res['ops'] if o['round'] > 0]),
            'ops': [[o['round'], o['name'], round(o['s'], 4)] for o in res['ops']],
            'sentinel': {'start': s0, 'end': s1, 'drift': max(s0, s1) / max(min(s0, s1), 1e-9)}}
    info['sentinel']['flagged'] = info['sentinel']['drift'] > 1.5
    if a.trace:
        metrics = {k: {'value': res['layer'].get(k, 0.0), 'unit': u}
                   for k, u in ((m['name'], m['unit']) for m in bench['per_layer'])}
        info['repeat'] = res['repeat']
        info['stream_cover'] = res['stream_cover']
        info['trace_overhead_pct'] = res['layer'].get('trace.overhead_pct')
    else:
        metrics = e2e
    print('perfbench-info: ' + json.dumps(info))
    line = {'correct': failed == 0 and not bad, 'attempted': attempted, 'failed': failed,
            'metrics': metrics}
    if a.record:
        with open(a.record, 'a') as fh:
            fh.write(json.dumps(dict(info, result=line)) + '\n')
    print(json.dumps(line))


if __name__ == '__main__':
    main()
