"""Repeated-line scan over the oracle battery (Queries.scala + battery/*.scala).

Usage: python3 tools/battery_dups.py [repo_root] [-v]

Lines are trimmed; blank lines and `//` lines are dropped; the files are
read as one stream (Queries.scala, then battery/ in name order). Every
5-line window of at least 120 characters that already occurred earlier
marks its 5 lines as repeated. Prints the repeated-line count and the
number of maximal repeated runs (blocks); -v lists the blocks.
"""
import glob
import os
import sys

args = [a for a in sys.argv[1:] if a != '-v']
root = args[0] if args else '.'
src = os.path.join(root, 'src/main/scala/graft')
files = [os.path.join(src, 'Queries.scala')] + sorted(
    glob.glob(os.path.join(src, 'battery/*.scala')))
lines = []
for f in files:
    for i, raw in enumerate(open(f), 1):
        t = raw.strip()
        if t and not t.startswith('//'):
            lines.append((os.path.basename(f), i, t))
W = 5
seen, dup = set(), set()
for s in range(len(lines) - W + 1):
    win = tuple(l[2] for l in lines[s:s + W])
    if sum(map(len, win)) < 120:
        continue
    if win in seen:
        dup.update(range(s, s + W))
    else:
        seen.add(win)
starts = [i for i in sorted(dup) if i - 1 not in dup]
print(len(dup), 'repeated lines in', len(starts), 'blocks')
if '-v' in sys.argv:
    for b in starts:
        e = b
        while e + 1 in dup:
            e += 1
        print(f'{lines[b][0]}:{lines[b][1]} .. {lines[e][0]}:{lines[e][1]}'
              f'  ({e - b + 1} lines)  {lines[b][2][:70]}')
