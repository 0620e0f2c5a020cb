#!/usr/bin/env python3
"""Two-process warehouse race harness (r9, VERDICT #9; r10 adds the
prune-during-append scenario, VERDICT r9 #7).

Scenario 1 (cold-build race): spawns two JVMs racing the SAME cold
warehouse key (graft.RaceProbe holds its build open ~2 s so both are
in-flight), then asserts the cross-process completion protocol: both
processes land on one completed artifact, exactly one of them actually
built (the loser adopted the winner via the rename-collision path), and
no tmp litter survives.

Scenario 2 (prune during append): a completed v1 artifact exists; the
source regenerates; an APPENDER adopts v1 as its incremental carry
prior and sleeps mid-carry while a fast BUILDER completes the v2
artifact — whose completion PRUNES v1 out from under the appender. The
appender's copy must fail, route through the appendTo* NonFatal
fallback, and converge on the builder's artifact (fellback=1, same
dir, no litter).

Usage: racecheck.py [classpath]
  (default target/scala-2.13/test-classes:target/scala-2.13/classes:
  /opt/spark/jars/*; RaceProbe lives in the test sources, so run
  `sbt Test/compile` first)
Exit 0 = pass. Run from the repo root as part of the verify recipe.
"""
import os
import re
import subprocess
import sys
import tempfile


def run_round(classes: str) -> int:
    """One race attempt. Returns 0 = raced and passed, 2 = no overlap
    (startup skew — retry), 1 = protocol violation."""
    root = tempfile.mkdtemp(prefix='graft-race-wh-')
    ds = tempfile.mkdtemp(prefix='graft-race-ds-')
    # the key hashes the source file's version: any readable file works
    with open(os.path.join(ds, 'documents.parquet'), 'wb') as f:
        f.write(b'race fixture')
    env = dict(os.environ, GRAFT_WAREHOUSE=root)
    cmd = ['java', '-cp', classes, 'graft.RaceProbe', ds]
    procs = [subprocess.Popen(cmd, env=env, stdout=subprocess.PIPE, text=True)
             for _ in range(2)]
    outs = [p.communicate()[0] for p in procs]
    rcs = [p.returncode for p in procs]
    if any(rc != 0 for rc in rcs):
        print(f'FAIL: exit codes {rcs}\n' + '\n'.join(outs))
        return 1
    results = [re.search(
        r'RACE_RESULT pid=(\d+) dir=(\S+) built=(\d+) start=(\d+) end=(\d+)', o)
        for o in outs]
    if any(r is None for r in results):
        print('FAIL: unparseable probe output\n' + '\n'.join(outs))
        return 1
    # the harness is only honest when both builds were IN FLIGHT at
    # once — a late starter takes the manifest fast-path (built=0,
    # start=end=0) or builds after the winner completed; either way the
    # adoption path never ran and the round must retry, not pass
    windows = [(int(r.group(4)), int(r.group(5))) for r in results]
    if any(s == 0 for s, _ in windows) or \
            not (windows[0][0] < windows[1][1] and windows[1][0] < windows[0][1]):
        print(f'no overlap (startup skew): windows={windows}, retrying')
        return 2
    dirs = {r.group(2) for r in results}
    built = sum(int(r.group(3)) for r in results)
    entries = os.listdir(root)
    artifact = [e for e in entries if e.startswith('race2p@')]
    tmp_litter = [e for e in entries if '.tmp-' in e]
    ok = True
    if len(dirs) != 1:
        print(f'FAIL: processes diverged: {dirs}'); ok = False
    if built != 1:
        # with overlap proven, exactly one move wins; built=2 means the
        # loser's adoption path failed to detect the collision
        print(f'FAIL: expected exactly one builder, got {built}'); ok = False
    if len(artifact) != 1:
        print(f'FAIL: expected one completed artifact, got {artifact}'); ok = False
    if tmp_litter:
        print(f'FAIL: tmp litter survived: {tmp_litter}'); ok = False
    d = dirs.pop()
    for f in ('_MANIFEST.json', 'data.bin'):
        if not os.path.exists(os.path.join(d, f)):
            print(f'FAIL: artifact incomplete, missing {f}'); ok = False
    if ok:
        print('racecheck OK: overlapping builds, one artifact, '
              'one builder of two pids, no litter')
    return 0 if ok else 1


def run_append_round(classes: str) -> int:
    """One prune-during-append attempt. Returns 0 = the prune hit the
    in-flight carry and the appender converged, 2 = timing missed (the
    appender finished its carry before the prune — retry), 1 = fail."""
    root = tempfile.mkdtemp(prefix='graft-race-wh-')
    ds = tempfile.mkdtemp(prefix='graft-race-ds-')
    src = os.path.join(ds, 'documents.parquet')
    with open(src, 'wb') as f:
        f.write(b'append fixture v1')
    env = dict(os.environ, GRAFT_WAREHOUSE=root)

    def probe(mode: str, hold_ms: int) -> subprocess.Popen:
        return subprocess.Popen(
            ['java', '-cp', classes, 'graft.RaceProbe', ds, mode, str(hold_ms)],
            env=env, stdout=subprocess.PIPE, text=True)

    # 1. completed v1 artifact (the appender's future carry prior)
    p0 = probe('build', 0)
    out0, rc0 = p0.communicate()[0], p0.wait()
    if rc0 != 0:
        print(f'FAIL: v1 setup build exited {rc0}\n{out0}')
        return 1
    # 2. regenerate the source: a NEW version key for both racers
    with open(src, 'wb') as f:
        f.write(b'append fixture v2 regenerated')
    # 3. slow appender (2 s mid-carry hold) vs fast builder (300 ms):
    #    the builder completes v2 first and its prune sweeps v1 while
    #    the appender still holds it as `prior`
    pa = probe('append', 2000)
    pb = probe('build', 300)
    outs = [p.communicate()[0] for p in (pa, pb)]
    rcs = [p.returncode for p in (pa, pb)]
    if any(rc != 0 for rc in rcs):
        print(f'FAIL: exit codes {rcs}\n' + '\n'.join(outs))
        return 1
    ma = re.search(r'APPEND_RESULT pid=(\d+) dir=(\S+) fellback=(\d)', outs[0])
    mb = re.search(r'RACE_RESULT pid=(\d+) dir=(\S+) built=(\d+)', outs[1])
    if ma is None or mb is None:
        print('FAIL: unparseable probe output\n' + '\n'.join(outs))
        return 1
    if ma.group(3) != '1':
        print('append carry finished before the prune (timing skew), retrying')
        return 2
    ok = True
    if ma.group(2) != mb.group(2):
        print(f'FAIL: appender and builder diverged: '
              f'{ma.group(2)} vs {mb.group(2)}')
        ok = False
    entries = os.listdir(root)
    artifact = [e for e in entries if e.startswith('race2p@')]
    if len(artifact) != 1:
        print(f'FAIL: expected one completed artifact, got {artifact}')
        ok = False
    if [e for e in entries if '.tmp-' in e]:
        print(f'FAIL: tmp litter survived: {entries}')
        ok = False
    for f in ('_MANIFEST.json', 'data.bin'):
        if not os.path.exists(os.path.join(ma.group(2), f)):
            print(f'FAIL: artifact incomplete, missing {f}')
            ok = False
    if ok:
        print('racecheck OK: prune hit the in-flight carry; appender '
              'fell back and converged on the builder\'s artifact')
    return 0 if ok else 1


def main() -> int:
    classes = sys.argv[1] if len(sys.argv) > 1 \
        else 'target/scala-2.13/test-classes:target/scala-2.13/classes:/opt/spark/jars/*'
    rc_build = 1
    for _ in range(3):
        rc_build = run_round(classes)
        if rc_build != 2:
            break
    else:
        print('FAIL: no overlapping race in 3 attempts')
        return 1
    if rc_build != 0:
        return rc_build
    for _ in range(3):
        rc = run_append_round(classes)
        if rc != 2:
            return rc
    print('FAIL: prune never hit the in-flight carry in 3 attempts')
    return 1


if __name__ == '__main__':
    sys.exit(main())
