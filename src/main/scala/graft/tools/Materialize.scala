package graft.tools

import org.apache.spark.sql.DataFrame

/** The honest timed action shared by [[graft.Bench]], [[Probe]] and
  * the layout/multimodal benches.
  */
object Materialize {

  /** THE honest action (round-14, verdict-r13 #3): execute `df`'s OWN
    * optimized plan to completion and return its row count. Unlike
    * `df.count()` — which plans a NEW Aggregate over the frame and lets
    * Catalyst prune every column the count doesn't need — `toRdd` runs
    * the plan exactly as the query would materialize it, so an
    * expensive per-row projection can never be silently deleted from
    * the measured work (how `text_quality` hid at 310 s for eleven
    * rounds). BenchHonestySpec pins the harness property.
    */
  def materializeCount(df: DataFrame): Long =
    df.queryExecution.toRdd.count()

  /** Build and [[materializeCount]] one frame, returning the frame (so
    * callers read the plan that actually ran), its row count and the
    * wall seconds — or what it threw. Construction is INSIDE the
    * timer: operators such as keyfinder do their cluster work eagerly
    * at DataFrame-construction time and return a tiny materialized
    * frame, so timing only the materialize would report 0.03 s for a
    * 600-second job (caught round 15). Everything is caught, as Bench
    * records a throwing query as a failure and runs on.
    */
  def timed(build: => DataFrame): (Either[Throwable, (DataFrame, Long)], Double) = {
    val t0 = System.nanoTime()
    val r =
      try { val df = build; Right((df, materializeCount(df))) }
      catch { case e: Throwable => Left(e) }
    (r, (System.nanoTime() - t0) / 1e9)
  }
}
