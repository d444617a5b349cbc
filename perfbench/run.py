#!/usr/bin/env python3
"""Benchmark runner for the graft dedup engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --smoke

Run from the root of a checkout. The first run builds the engine and the
harness (perfbench/build.py); every run then starts one JVM at nproc Spark
threads with a heap sized from MemTotal, generates its inputs from the seed,
runs an untimed warm-up op and measures ops for --seconds, checks every op's
output, and prints one JSON object as the last line of stdout. With
--trace 1 it prints the per-layer metrics of a traced run instead of the
end-to-end ones. --smoke runs every workload on tiny inputs and asserts that
every metric is emitted and that a corrupted output counts as a failed op.
See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import oracle  # noqa: E402
import querydata  # noqa: E402

DEADLINE_S = 170

# per-layer metric prefixes a workload exercises; the others read 0 there
APPLIES = {
    'incremental_merge': ('ingest.', 'features.', 'candidates.', 'verify.',
                          'cluster.', 'tableio.', 'incremental.', 'driver.',
                          'op.', 'check.'),
    'query_mix': ('driver.', 'op.', 'check.', 'query.'),
}

JAVA_OPENS = [
    'java.base/java.lang', 'java.base/java.lang.invoke',
    'java.base/java.lang.reflect', 'java.base/java.io', 'java.base/java.net',
    'java.base/java.nio', 'java.base/java.util',
    'java.base/java.util.concurrent', 'java.base/java.util.concurrent.atomic',
    'java.base/sun.nio.ch', 'java.base/sun.nio.cs',
    'java.base/sun.security.action', 'java.base/sun.util.calendar',
]


def host():
    """Spark threads from nproc, heap from MemTotal: a quarter of memory,
    clamped to [1, 8] GiB, so runs fit beside other work on a shared host."""
    threads = len(os.sched_getaffinity(0))
    mem_kb = 4 * 1024 * 1024
    with open('/proc/meminfo') as f:
        for line in f:
            if line.startswith('MemTotal:'):
                mem_kb = int(line.split()[1])
    heap_mb = max(1024, min(8192, mem_kb // 1024 // 4))
    return threads, heap_mb


def commit():
    try:
        r = subprocess.run(['git', 'rev-parse', 'HEAD'], capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def run_harness(classpath, digest, workload, seed, seconds, trace, smoke,
                deadline):
    threads, heap_mb = host()
    tag = f'{workload}-{seed}-t{trace}{"-smoke" if smoke else ""}-{os.getpid()}'
    work = os.path.join(build.OUT, 'work', tag)
    results = os.path.join(build.OUT, 'results')
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(results, exist_ok=True)
    result = os.path.join(work, 'result.json')
    log = os.path.join(results, tag + '.log')
    cmd = ['java', f'-Xmx{heap_mb}m', '-Xss8m']
    for p in JAVA_OPENS:
        cmd += ['--add-opens', p + '=ALL-UNNAMED']
    cmd += ['-Dspark.ui.enabled=false', f'-Djava.io.tmpdir={work}',
            '-cp', classpath, 'perfbench.Harness',
            '--workload', workload, '--seed', str(seed),
            '--seconds', str(seconds), '--trace', str(trace),
            '--work', work, '--result', result, '--threads', str(threads)]
    if smoke:
        cmd.append('--smoke')
    try:
        gen_s = 0.0
        if workload == 'query_mix':
            t = time.time()
            querydata.write(os.path.join(work, 'data'), seed)
            gen_s = time.time() - t
        with open(log, 'w') as lf:
            proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT)
            try:
                rc = proc.wait(timeout=max(1, deadline - time.time()))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                raise RuntimeError(f'{workload}: harness passed the deadline (log {log})')
        if rc != 0 or not os.path.exists(result):
            with open(log) as lf:
                tail = lf.read()[-3000:]
            raise RuntimeError(f'{workload}: harness exit {rc}\n{tail}')
        with open(result) as f:
            res = json.load(f)
        res['metrics']['setup_s'] += gen_s
        if workload == 'query_mix':
            oracle_checks(res, work)
        res['context'].update(threads=threads, heap_mb=heap_mb,
                              commit=commit(), source_digest=digest)
        with open(os.path.join(results, tag + '.json'), 'w') as f:
            json.dump(res, f, indent=1)
        return res
    finally:
        shutil.rmtree(work, ignore_errors=True)


def oracle_checks(res, work):
    """Compares every measured pass with DuckDB; a pass with any mismatch is
    a failed op. pair_recall is the worst planted-pair recall of the passes."""
    con = oracle.connect(os.path.join(work, 'data'))
    recalls = []
    for op in res['ops']:
        out = os.path.join(work, f'out{op["op"]}')
        bad = oracle.compare_pass(con, out)
        recall = oracle.planted_recall(con, out)
        op['oracle_mismatches'] = bad
        op['recall'] = recall
        if recall is not None:
            recalls.append(recall)
        if bad and op['ok']:
            op['ok'] = False
            res['failed'] += 1
    res['metrics']['pair_recall'] = min(recalls) if recalls else None


def report(bench, workload, res, trace):
    """The final line: every end-to-end metric (trace 0) or every per-layer
    metric (trace 1), by name with its unit."""
    metrics = {}
    if trace:
        applies = APPLIES[workload]
        for m in bench['per_layer']:
            name = m['name']
            v = res['layers'].get(name)
            if v is None:
                if name.startswith(applies):
                    raise RuntimeError(f'{workload}: per-layer metric {name} missing')
                v = 0.0
            metrics[name] = {'value': v, 'unit': m['unit']}
    else:
        for m in bench['end_to_end']:
            v = res['metrics'].get(m['name'])
            if v is None:
                raise RuntimeError(f'{workload}: metric {m["name"]} missing')
            metrics[m['name']] = {'value': v, 'unit': m['unit']}
    failed = res['failed']
    return {'correct': failed == 0, 'attempted': res['attempted'],
            'failed': failed, 'metrics': metrics}


def smoke(bench, classpath, digest):
    """Tiny inputs, both trace modes: every metric is emitted with its unit,
    the clean op passes its check and the corrupted op fails it."""
    problems = []
    for w in [w['name'] for w in bench['workloads']]:
        for trace in (0, 1):
            res = run_harness(classpath, digest, w, 7, 1, trace, True,
                              time.time() + 300)
            line = report(bench, w, res, trace)
            expect = bench['per_layer'] if trace else bench['end_to_end']
            missing = [m['name'] for m in expect
                       if m['name'] not in line['metrics']
                       or line['metrics'][m['name']]['unit'] != m['unit']]
            ok = [op['ok'] for op in res['ops']]
            print(f'smoke {w} trace={trace}: ops_ok={ok} '
                  f'missing_metrics={missing}', flush=True)
            if missing:
                problems.append(f'{w}/{trace}: metrics missing {missing}')
            if ok != [True, False]:
                problems.append(f'{w}/{trace}: expected the clean op to pass '
                                f'and the corrupted op to fail, got {ok}')
    if problems:
        sys.exit('smoke failed:\n' + '\n'.join(problems))
    print('smoke ok')


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument('--workload')
    ap.add_argument('--seed', type=int, default=1)
    ap.add_argument('--seconds', type=float, default=10)
    ap.add_argument('--trace', type=int, choices=(0, 1), default=0)
    ap.add_argument('--smoke', action='store_true')
    a = ap.parse_args()
    start = time.time()
    with open('BENCHMARK.json') as f:
        bench = json.load(f)
    try:
        classpath, digest = build.build()
    except build.BuildError as e:
        sys.exit(f'build: {e}')
    if a.smoke:
        smoke(bench, classpath, digest)
        return
    names = [w['name'] for w in bench['workloads']]
    if a.workload not in names:
        sys.exit(f'unknown workload {a.workload}; one of {names}')
    # a first run that had to build gets its own full budget for the run
    deadline = max(start, time.time() - 5) + DEADLINE_S
    try:
        res = run_harness(classpath, digest, a.workload, a.seed, a.seconds,
                          a.trace, False, deadline)
        line = report(bench, a.workload, res, a.trace)
    except RuntimeError as e:
        sys.exit(str(e))
    print('# context ' + json.dumps(res['context']))
    print(json.dumps(line))


if __name__ == '__main__':
    main()
