package graft

/** Test-only crash injection for chaos specs (VERDICT r12 next-list
  * #6). [[FailPoint.Kill]] extends Error, so operator/pipeline code
  * catching `Exception` does NOT see it — no failure handling runs,
  * and durable state is left EXACTLY as a process kill at that site
  * would leave it. Disarmed (the default) each hit() is a single
  * volatile read.
  *
  * SITE-PLACEMENT CONSTRAINT (ADVICE r13): an Error bypasses
  * `catch (Exception)` but NOT `finally` — a hit() site placed inside
  * a try/finally region whose finally owns durable cleanup (temp-dir
  * deletes, conf restores, marker writes) would run that cleanup on
  * injection, which a real process kill would not, and the chaos spec
  * would certify a crash state that cannot occur. Every hit() site
  * must sit OUTSIDE any try/finally block that touches durable state;
  * the 43 current sites honor this — check before adding one. They
  * live in IngestPipeline.load (`s0_*`..`s3_*`), the Upsert writers
  * (`merge_*`, `mergem_*`, `scd2_*`, `manifest_*` — every `mergem_*`
  * site is a by-name argument the merge, delete and compaction writers
  * hand to `Upsert.commitEpoch`, so it fires from that shared tail,
  * which must therefore stay outside any try/finally), StagedCommit's base
  * swap (`swap_*`), the index maintenance ops (`ivf_*`, `bq_*`,
  * `lsh_*`, `bm25_*`, `spans_*`) and the streaming consumers
  * (`cdf_*`, `idxsink_*`, `mv_*`). */
object FailPoint {
  @volatile private var armed: String = null
  @volatile private var hook: (String, Runnable) = null
  def arm(site: String): Unit = armed = site
  def disarm(): Unit = armed = null
  /** Arm a one-shot ACTION at a site instead of a kill — the
    * paused-holder device (VERDICT r19 #6): a spec runs "break the
    * lease" at the exact window a paused writer would occupy, then
    * the writer's own fence must abort it before publish. */
  def armHook(site: String, action: Runnable): Unit = hook = (site, action)
  def disarmHook(): Unit = hook = null
  def hit(site: String): Unit = {
    val h = hook
    if (h != null && h._1 == site) { hook = null; h._2.run() }
    if (armed != null && armed == site) { armed = null; throw new Kill(site) }
  }

  final class Kill(site: String) extends Error(s"injected kill at $site")
}
