package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Round 13 adds `verify_meta.json` alongside the dumps — the gate's
  * self-diagnosis record:
  *
  *  - `codegen_errors`: CodegenGuard counter over the WHOLE gate run.
  *    The bench already fails on silent interpreted fallbacks, but it
  *    never executes the ten gate-only entries — a fallback that only
  *    manifests there was invisible until now.
  *  - `seconds`: one untimed-run wall-clock per entry (this is a
  *    correctness dump, not a benchmark — no warmup/median, just the
  *    single execution the gate pays anyway).
  *  - `gate_only_over_ceiling`: gate-only entries (never benched)
  *    whose single-run wall exceeded a generous fixed ceiling (~3x
  *    their round-12 sf0.01 times), so a 10x regression in an untimed
  *    entry surfaces instead of hiding until someone promotes it.
  *    RECORDED AND WARNED, never a nonzero exit: a wall-clock
  *    assertion inside the correctness gate would reintroduce the
  *    box-contention false-failure class round 13 exists to kill
  *    (BENCH_r12's phantom 2.3x regression) — per-entry `ext_share`
  *    rides along so a reader can tell load from regression.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated name filter for focused
    // re-checks (two args = full run); an unknown name fails fast
    // instead of silently running nothing
    val only: Option[Set[String]] = args.lift(2).map { a =>
      val names = a.split(",").map(_.trim).filter(_.nonEmpty).toSet
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"unknown queries: ${unknown.toSeq.sorted.mkString(",")}")
      names
    }
    val cores = GraftSession.cores
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    val seconds = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val extShare = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // slot hygiene (the Bench release pass): evict persist slots
      // the current entry didn't touch, so a 220-entry gate run
      // doesn't hold every operator's cache to session end
      val mark = graft.operators.PersistSlots.advanceEpoch()
      val a = graft.tools.TrialMeter.snap()
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      val st = graft.tools.TrialMeter.stat(a, graft.tools.TrialMeter.snap(), cores)
      seconds(name) = st.wallSec
      extShare(name) = st.extShare
      graft.operators.PersistSlots.releaseUntouched(mark): Unit
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)

    val codegenErrors = graft.tools.CodegenGuard.report()
    if (codegenErrors > 0)
      System.err.println(s"[verify] WARNING: $codegenErrors codegen fallback" +
        " error(s) during the gate run — a plan is silently interpreted")
    // ceilings are calibrated at the driver's gate scale (sf0.01) —
    // a manual run at another sf must not read as a regression
    val ceilingScale = sfDir.contains("sf0.01")
    val over =
      if (!ceilingScale) Seq.empty[String]
      else SparkEntry.gateOnlyCeiling.toSeq.sorted.collect {
        case (n, ceil) if seconds.get(n).exists(_ > ceil) =>
          System.err.println(f"[verify] WARNING: gate-only $n took" +
            f" ${seconds(n)}%.1fs (> ceiling ${ceil}%.0fs," +
            f" ext_share ${extShare.getOrElse(n, -1.0)}%.2f)")
          n
      }
    def secMap(m: scala.collection.Map[String, Double]): String =
      m.map { case (k, v) => q(k) + ":" + f"$v%.2f" }.mkString("{", ",", "}")
    val meta =
      s"""{"sf":${q(sfDir)},"n_entries":${seconds.size},""" +
      s""""codegen_errors":$codegenErrors,""" +
      s""""gate_only_over_ceiling":${over.map(q).mkString("[", ",", "]")},""" +
      s""""gate_only_ceiling":${secMap(SparkEntry.gateOnlyCeiling)},""" +
      s""""seconds":${secMap(seconds)},"ext_share":${secMap(extShare)}}"""
    Files.writeString(Paths.get(s"$outDir/verify_meta.json"), meta + "\n")
    // Round-over-round gate-cost trend (round 15): the driver's
    // outDir is ephemeral, so FULL runs also leave a copy in the
    // working directory (the repo root, like bench_detail.json) for
    // the round close to commit as VERIFYMETA_r{N}.json — a query
    // whose ORACLE-side or gate-side cost balloons is then tracked
    // round-over-round, not just bench-side. Focused (name-filtered)
    // runs don't overwrite the full record. Best-effort: a read-only
    // cwd must not fail the gate.
    if (only.isEmpty) {
      try Files.writeString(Paths.get("verify_meta_last.json"), meta + "\n")
      catch { case e: Throwable =>
        System.err.println(s"[verify] trend copy failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
