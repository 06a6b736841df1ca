package graft.tools

import org.apache.spark.sql.SparkSession

/** A/B micro-bench (VERDICT r9 #1): times a named subset of
  * SparkEntry.queries with N passes each and prints per-pass times, so two
  * commits can be compared on the SAME warm sandbox minutes apart instead
  * of across rounds (where a 1.3x board-wide drift with provably-unchanged
  * plans appeared r8->r9). Run it from each commit's checkout in an
  * interleaved A/B/A/B order; the per-pass spread IS the environment noise
  * floor that cross-round deltas must clear before they mean anything.
  *
  * Usage: runMain graft.tools.BenchAB [passes] q1 q2 ...
  * (defaults: 5 passes, the six lines VERDICT r9 flagged as creeping).
  * Cores and shuffle partitions follow SPARK_GRAFT_CPUS (default 32), as
  * in graft.Bench. */
object BenchAB {
  def main(args: Array[String]): Unit = {
    val (passes, names) = args.toSeq match {
      case p +: rest if p.forall(_.isDigit) && rest.nonEmpty => (p.toInt, rest)
      case p +: Nil if p.forall(_.isDigit) => (p.toInt, defaultNames)
      case Nil => (5, defaultNames)
      case rest => (5, rest)
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.caseSensitive", "true")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.sql.codegen.cache.maxEntries", "8000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // session-conf overrides for same-JVM A/B probes of graft.* knobs,
    // e.g. GRAFT_SET="graft.scan.rebalanceMaxBytes=1;graft.quantile.accuracy=2000"
    sys.env.get("GRAFT_SET").foreach(_.split(";").filter(_.nonEmpty).foreach { kv =>
      val Array(k, v) = kv.split("=", 2); spark.conf.set(k.trim, v.trim)
    })

    // same warmup discipline as Bench: page cache + codegen on the tiny SF
    try {
      new java.io.File(sfDir).listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .foreach { f =>
          spark.read.parquet(f.getAbsolutePath)
            .write.format("noop").mode("overwrite").save()
        }
    } catch { case _: Throwable => () }
    names.foreach { n =>
      try graft.SparkEntry.queries(n)(spark, "/root/testdata/sf0.001")
        .write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }

    // Optional same-JVM conf A/B: GRAFT_AB="k=v[;k=v...]" runs each pass
    // TWICE interleaved — baseline conf, then with the overrides — so the
    // two medians share one JVM/JIT/page-cache state and per-invocation
    // machine noise cancels (the r16 1.48× lesson applied to micro-probes).
    val abConf: Seq[(String, String)] = sys.env.get("GRAFT_AB").toSeq
      .flatMap(_.split(";").filter(_.nonEmpty).map { kv =>
        val Array(k, v) = kv.split("=", 2); (k.trim, v.trim)
      })
    def withAb[T](on: Boolean)(body: => T): T = {
      if (on) abConf.foreach { case (k, v) => spark.conf.set(k, v) }
      try body finally if (on) abConf.foreach { case (k, _) => spark.conf.unset(k) }
    }
    val rows = names.map { n =>
      val fn = graft.SparkEntry.queries(n)
      System.gc()
      val tsAB = (1 to passes).map { _ =>
        val t0 = System.nanoTime()
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable =>
          System.err.println(s"[ab] $n failed: ${e.getMessage}") }
        val base = (System.nanoTime() - t0) / 1e9
        val alt = if (abConf.isEmpty) 0.0 else {
          val t1 = System.nanoTime()
          withAb(on = true) {
            try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            catch { case e: Throwable =>
              System.err.println(s"[ab] $n (alt) failed: ${e.getMessage}") }
          }
          (System.nanoTime() - t1) / 1e9
        }
        (base, alt)
      }
      val ts = tsAB.map(_._1)
      val med = ts.sorted.apply(passes / 2)
      if (abConf.nonEmpty) {
        val alt = tsAB.map(_._2)
        val medAlt = alt.sorted.apply(passes / 2)
        System.err.println(f"[ab] $n%-28s med $med%6.3f s | alt $medAlt%6.3f s  (${medAlt / med * 100}%.0f%%)   passes ${ts.map(t => f"$t%.3f").mkString(" ")} | ${alt.map(t => f"$t%.3f").mkString(" ")}")
      } else
        System.err.println(f"[ab] $n%-28s med $med%6.3f s   passes ${ts.map(t => f"$t%.3f").mkString(" ")}")
      (n, med, ts)
    }
    val qs = rows.map { case (n, m, ts) =>
      s""""$n":{"median":${f"$m%.3f"},"passes":[${ts.map(t => f"$t%.3f").mkString(",")}]}"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"ab_subset","queries":$qs,"sf":"$sfDir"}""")
    spark.stop()
  }

  private val defaultNames = Seq(
    "modify_robust_scale", "q3_join_revenue_by_nation", "text_bigram_lm",
    "modify_remove_outliers_iqr", "modify_make_binary", "text_collocations",
    "text_lm_perplexity")
}
