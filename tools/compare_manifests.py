#!/usr/bin/env python3
"""Compare the manifest-v*.json files two graft.Verify runs left behind.

Usage: compare_manifests.py <tmpdir A> <tmpdir B> [--names-only]

Run graft.Verify once per build, each with its own -Djava.io.tmpdir, then
pass the two temp directories. Placeholders replace `#ts` values, generated
file and segment name prefixes (per table, in order of first use), the temp
root and the process id; deletion-vector target sets are re-sorted after
the placeholders. For every table and version present on both sides, the
kind line and, per marker kind, the lines in order must match; file lines
are compared whole, or by name only with --names-only."""
import os
import re
import sys
from collections import defaultdict

NAME = re.compile(
    r'(?<![0-9a-zA-Z])[0-9a-f]{8}(?=-part-\d+\.parquet)'
    r'|(?:(?<=[dw]-)|(?<=pd-))[0-9a-f]{8}(?=-p\d+-t)'
    r'|(?<=merged-)[0-9a-f]{8}'
    r'|seg-[0-9a-f-]{12}\.txt')


def tables(root):
    out = {}
    for d, _, fs in os.walk(root):
        ms = sorted(f for f in fs if re.fullmatch(r'manifest-v\d{8}\.json', f))
        if ms:
            out[re.sub(r'_\d+(?=/|$)', '_PID', os.path.relpath(d, root))] = (d, ms)
    return out


def normalize(root, lines, names):
    out = []
    for l in lines:
        l = re.sub(r'_\d{3,}(?=/)', '_PID', l.replace(root, 'ROOT'))
        l = re.sub(r'-t\d+\.parquet', '-tN.parquet', l)
        l = NAME.sub(lambda m: names.setdefault(m.group(0), 'N%d' % len(names)), l)
        if l.startswith('#ts\t'):
            l = '#ts\tTS'
        if l.startswith('#dv\t'):
            p = l.split('\t')
            p[3:] = [','.join(sorted(x.split(','))) for x in p[3:]]
            l = '\t'.join(p)
        out.append(l)
    return out


def groups(lines, names_only):
    g = defaultdict(list)
    if lines and lines[0] in ('#rewrite', '#mutate'):
        g['kind'] = [lines[0]]
        lines = lines[1:]
    for l in lines:
        if l.startswith('#'):
            g[l.split('\t')[0]].append(l)
        else:
            g['file'].append(l.split('\t')[0] if names_only else l)
    return g


def read(path):
    with open(path) as f:
        return [x.strip() for x in f.read().split('\n') if x.strip()]


def main(a, b, names_only):
    ta, tb = tables(a), tables(b)
    print('tables: %d vs %d' % (len(ta), len(tb)))
    for t in sorted(set(ta) ^ set(tb)):
        print('only on one side: %s' % t)
    versions = diffs = 0
    for t in sorted(set(ta) & set(tb)):
        (da, ma), (db, mb) = ta[t], tb[t]
        if ma != mb:
            print('%s: versions differ' % t)
        na, nb = {}, {}
        for m in sorted(set(ma) & set(mb)):
            ga = groups(normalize(a, read(os.path.join(da, m)), na), names_only)
            gb = groups(normalize(b, read(os.path.join(db, m)), nb), names_only)
            versions += 1
            for k in sorted(set(ga) | set(gb)):
                if ga.get(k, []) != gb.get(k, []):
                    diffs += 1
                    print('DIFF %s %s [%s]' % (t, m, k))
    print('compared %d versions, %d differing (table, version, kind) groups'
          % (versions, diffs))


if __name__ == '__main__':
    main(sys.argv[1], sys.argv[2], '--names-only' in sys.argv[3:])
