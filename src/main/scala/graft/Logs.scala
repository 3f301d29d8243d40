package graft

/** JVM-wide, targeted log hygiene for three surfaces: the two driver
  * mains (Bench, and Verify on Bench's session) and the test suites
  * (SparkFixture). */
object Logs {

  /** Silence WindowExec's "No Partition Defined for Window operation!"
    * warning — JVM-wide, for exactly that one logger.
    *
    * Every global Window this engine plans is over a BOUNDED relation
    * (per-source rollups, ≤ legK retrieval legs, distinct-length batch
    * offsets, …) and the set is allowlisted BOTH WAYS by
    * PlanInvariantSpec's registry sweep: an unlisted query planning a
    * global Window fails the suite, and allowlist rot (an entry that no
    * longer plans one) fails it too. So the per-execution warning adds
    * no protection the spec does not already enforce — while flooding
    * ~80% of the Verify/bench stderr tail, burying any FUTURE real
    * warning (VERDICT r20 #5 / r21 #7). Suppression is scoped to the
    * one logger; a genuinely unbounded global window is still caught,
    * by the spec, where it fails loudly instead of scrolling by. */
  def suppressBoundedWindowWarning(): Unit =
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
}
