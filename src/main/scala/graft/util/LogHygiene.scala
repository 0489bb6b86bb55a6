package graft.util

/** Targeted log-noise control for the tool entry points: every
  * session [[graft.Harness.session]] builds calls it.
  *
  * `WindowExec` logs "No Partition Defined for Window operation!" once
  * per EXECUTION of every unpartitioned window. Every unpartitioned
  * window on this query surface is PlanLint-gated (`global-window`
  * rule): each one is either bounded by construction (a global
  * aggregate / limit upstream) or carries a documented register-size
  * bound in [[graft.PlanLint.allow]] — the ≤1001-row score grids, the
  * bucket grids, the budget prefix tables. The per-execution WARN is
  * therefore pure noise (hundreds of lines per Verify run) that buries
  * real warnings; the LINT is the guard, not the log line. Muting is
  * scoped to exactly that logger — a genuinely unbounded global window
  * introduced by a future query still fails PlanLint, which exits
  * nonzero on unexplained hits.
  */
object LogHygiene {
  def muteBoundedWindowWarn(): Unit =
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
}
