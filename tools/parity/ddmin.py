import subprocess, sys, os
# Usage: python3 ddmin.py <clear-text|tree> <doc>
# Delta-minimizes a document whose dump on the given axis differs between
# the reference (ref_clear_text.pl or ref_tree_all.pl) and graft (the
# ParityCorpora dumper), and writes the result to <doc>.min; needs
# `sbt Test/compile` and the reference Perl module (README.md).
# Classpath: the Scala runtime from $SPARK_HOME/jars plus this checkout's
# compiled main and test classes.
HERE = os.path.dirname(os.path.abspath(__file__))
REF = {'clear-text': 'ref_clear_text.pl', 'tree': 'ref_tree_all.pl'}
if len(sys.argv) != 3 or sys.argv[1] not in REF:
    sys.exit('usage: ddmin.py <clear-text|tree> <doc>')
axis, doc = sys.argv[1], sys.argv[2]
REPO = os.path.abspath(os.path.join(HERE, '..', '..'))
JARS = os.path.join(os.environ['SPARK_HOME'], 'jars')
CP = ':'.join([os.path.join(JARS, 'scala-library-2.13.17.jar'),
               os.path.join(JARS, 'scala-reflect-2.13.17.jar'),
               os.path.join(REPO, 'target/scala-2.13/classes'),
               os.path.join(REPO, 'target/scala-2.13/test-classes')])
D = '/tmp/parity/min/d'
os.makedirs(D, exist_ok=True)
def differs(s):
    open(D + '/cur.html','wb').write(s.encode())
    r = subprocess.run(['perl',os.path.join(HERE, REF[axis]),D],capture_output=True).stdout
    m = subprocess.run(['java','-cp',CP,'graft.html.ParityCorpora',axis,D],capture_output=True).stdout
    return r != m
src = open(doc, encoding='utf-8').read()
assert differs(src), "no divergence on full doc"
# greedy chunk removal, shrinking chunk size
chunk = max(len(src) // 4, 1)
while chunk >= 1:
    i = 0
    while i < len(src):
        cand = src[:i] + src[i+chunk:]
        if cand and differs(cand):
            src = cand
        else:
            i += chunk
    chunk //= 2
print(repr(src))
open(doc + '.min','w',encoding='utf-8').write(src)
