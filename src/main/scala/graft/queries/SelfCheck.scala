package graft.queries

/** In-query invariants for the rows-only (no-oracle) queries: the
  * driver only sees row counts for sketch/ANN ops, so each one
  * asserts its own correctness contract (subset-of-exact, recall
  * floor, banding completeness) at construction time and THROWS on
  * violation — turning "rows > 0" into a meaningful signal. Each
  * check runs once per JVM per key; a failed check re-arms so
  * retries re-validate.
  */
private[graft] object SelfCheck {
  /** One invariant's outcome: which check ran, whether it held, and
    * the values it measured — the evidence Verify dumps next to the
    * parquet results so the driver's `no_oracle` rows carry proof
    * that the invariants RAN AND PASSED (not merely "rows > 0").
    */
  final case class Evidence(key: String, passed: Boolean,
                            measured: Seq[String], error: Option[String])
  private val done = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val records =
    new java.util.concurrent.ConcurrentHashMap[String, Evidence]()
  private val notes =
    new ThreadLocal[scala.collection.mutable.ArrayBuffer[String]]
  val FixtureDir = "/root/testdata/sf0.001"
  def fixtureExists: Boolean = new java.io.File(FixtureDir).isDirectory

  /** Record a measured value for the invariant currently running —
    * a no-op outside a check body.
    */
  def note(msg: String): Unit =
    Option(notes.get()).foreach { b => b += msg; () }

  def once(key: String)(check: => Unit): Unit =
    if (done.add(key)) {
      try record(key)(check)
      catch { case e: Throwable => done.remove(key); throw e }
    }

  /** Like [[once]] but re-runs (and re-records) on every call — for
    * invariants cheap enough to validate per invocation.
    */
  def every(key: String)(check: => Unit): Unit = record(key)(check)

  private def record(key: String)(body: => Unit): Unit = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    notes.set(buf)
    try {
      body
      records.put(key, Evidence(key, passed = true, buf.toSeq, None))
      ()
    } catch {
      case e: Throwable =>
        records.put(key, Evidence(key, passed = false, buf.toSeq,
          Some(Option(e.getMessage).getOrElse(e.getClass.getName))))
        throw e
    } finally notes.remove()
  }

  def evidence: Seq[Evidence] =
    records.values.toArray(Array.empty[Evidence]).toSeq.sortBy(_.key)
}
