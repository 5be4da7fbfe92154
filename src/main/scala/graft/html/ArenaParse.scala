package graft.html

/** Shared per-thread arena front door for every parse→read→DISCARD
  * lifecycle (the extraction kernel and the SQL-surface scalar kernels:
  * serialize, quirks, node walks, attr matching). The tree handed to `f`
  * is recycled when `f` returns — it MUST NOT escape. Nested calls on
  * one thread are safe: each scope releases only to its own entry mark
  * (mark/restore), so an inner parse inside `f` cannot recycle the outer
  * document's nodes. A caller that keeps the tree uses the heap parse,
  * [[HtmlParser.parse]]. Measured: +15-19% extraction throughput at 32
  * threads; Node gone from the allocation profile (BASELINE.md
  * §node-arena). */
object ArenaParse {
  private val arenas: ThreadLocal[NodeArena] =
    ThreadLocal.withInitial(() => new NodeArena())

  /** Runs `f` on this thread's arena, then releases it to the entry mark. */
  private def scoped[T](f: NodeArena => T): T = {
    val arena = arenas.get()
    val m = arena.mark
    try f(arena)
    finally arena.releaseTo(m)
  }

  def withDoc[T](html: String, scripting: Boolean = false)(f: Node => T): T =
    scoped(a => f(HtmlParser.parse(html, scripting, a)))

  /** Like withDoc but also hands `f` the quirks verdict. */
  def withDocQuirks[T](html: String)(f: (Node, Int) => T): T =
    scoped { a => val (d, q) = HtmlParser.parseWithQuirks(html, arena = a); f(d, q) }

  def withFragment[T](html: String, contextTag: String,
                      contextNs: Int = Ns.HTML)(f: Node => T): T =
    scoped(a => f(HtmlParser.parseFragment(html, contextTag, contextNs, arena = a)))
}
