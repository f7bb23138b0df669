package graft

/** Meter for SILENT whole-stage-codegen fallbacks: a stage whose
  * generated method exceeds spark.sql.codegen.hugeMethodLimit reverts to
  * expression-tree interpretation with only an INFO log — a 50–100×
  * per-row tax invisible at WARN (the x94 finding).
  *
  * [[attach]] raises the codegen logger to INFO, installs a counting
  * appender, and returns (setCurrent, counts) so a harness can attribute
  * fallback events to the query that was running. Bench runs it over the
  * full suite and writes the per-key counts as the artifact's
  * `fallbacks` map. */
object FallbackAudit {

  /** Install the INFO-level fallback counter. Returns the (label setter,
    * counts snapshot) pair. Attribution caveat (r19, ADVICE): events are
    * attributed to the CURRENT label at arrival time; log4j delivery is
    * not barriered with job completion, so a straggling executor event
    * can in principle charge query N's fallback to query N+1. Acceptable
    * for a diagnostic: the contract is "which keys trip it", and a
    * ±1-key smear still points at the right family. */
  def attach(): (String => Unit, () => Map[String, Int]) = {
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.WholeStageCodegenExec",
      org.apache.logging.log4j.Level.INFO)
    val counts = scala.collection.mutable.Map.empty[String, Int]
    val appender = new org.apache.logging.log4j.core.appender.AbstractAppender(
      "fallback-audit", null,
      org.apache.logging.log4j.core.layout.PatternLayout.createDefaultLayout(),
      false, Array.empty) {
      @volatile var current: String = "?"
      override def append(e: org.apache.logging.log4j.core.LogEvent): Unit = {
        val m = e.getMessage.getFormattedMessage
        if (m.contains("Found too long generated codes"))
          counts.synchronized { counts(current) = counts.getOrElse(current, 0) + 1 }
      }
    }
    appender.start()
    val ctx = org.apache.logging.log4j.LogManager.getContext(false)
      .asInstanceOf[org.apache.logging.log4j.core.LoggerContext]
    ctx.getConfiguration.getLoggerConfig(
      "org.apache.spark.sql.execution.WholeStageCodegenExec").addAppender(
      appender, org.apache.logging.log4j.Level.INFO, null)
    ctx.updateLoggers()
    (label => appender.current = label,
      () => counts.synchronized { counts.toMap })
  }
}
