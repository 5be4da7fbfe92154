import subprocess, sys, os
# Delta-minimizes a document whose clear-text differs between the reference
# (ref_clear_text.pl) and graft (the ParityCorpora dumper); needs
# `sbt Test/compile` and the reference Perl module (README.md).
# Classpath: the Scala runtime from $SPARK_HOME/jars plus this checkout's
# compiled main and test classes.
REPO = os.path.abspath(os.path.join(os.path.dirname(__file__), '..', '..'))
JARS = os.path.join(os.environ['SPARK_HOME'], 'jars')
CP = ':'.join([os.path.join(JARS, 'scala-library-2.13.17.jar'),
               os.path.join(JARS, 'scala-reflect-2.13.17.jar'),
               os.path.join(REPO, 'target/scala-2.13/classes'),
               os.path.join(REPO, 'target/scala-2.13/test-classes')])
D = '/tmp/parity/min/d'
os.makedirs(D, exist_ok=True)
def differs(s):
    open(D + '/cur.html','wb').write(s.encode())
    r = subprocess.run(['perl','ref_clear_text.pl',D],capture_output=True).stdout
    m = subprocess.run(['java','-cp',CP,'graft.html.ParityCorpora','clear-text',D],capture_output=True).stdout
    return r != m
src = open(sys.argv[1], encoding='utf-8').read()
assert differs(src), "no divergence on full doc"
# greedy chunk removal, shrinking chunk size
n = len(src)
chunk = max(n // 4, 1)
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
open(sys.argv[1] + '.min','w',encoding='utf-8').write(src)
