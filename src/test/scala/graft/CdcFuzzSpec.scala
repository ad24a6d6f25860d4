package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._

import graft.engine.{EsdbWriter, Publish}

/** Randomized differential testing for the CDC loop: a source store
  * evolves through a random sequence of versioned operations
  * (appendVersioned, predicate delete, predicate update, keyed merge,
  * full compaction) while a replica — forked at v1 — follows by
  * applying each committed version's `changesFeedBetween(v-1, v)`
  * window in order. After every window and at the end, the replica
  * must equal the source exactly (multiset, all columns). This is the
  * composition property the streaming follower rests on: per-version
  * windows chain to the same state as any wider window.
  */
class CdcFuzzSpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(20260815L)

  private def tmp(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    dir.delete()
    dir.getAbsolutePath
  }

  private def mk(ids: Seq[Long]): DataFrame =
    ids.map { i =>
      (s"s${rnd.nextInt(3)}", s"g${rnd.nextInt(5)}", rnd.nextInt(90000).toLong,
        i, rnd.nextInt(800) / 10.0, s"""{"k": ${rnd.nextInt(9)}}""")
    }.toDF("space", "grouping", "ts_us", "event_id", "value", "payload")

  private def contentEqual(a: DataFrame, b: DataFrame): Option[String] = {
    val cols = a.columns.sorted.toSeq
    val (x, y) = (a.select(cols.map(col): _*), b.select(cols.map(col): _*))
    val onlyA = x.exceptAll(y).count()
    val onlyB = y.exceptAll(x).count()
    if (onlyA == 0 && onlyB == 0) None
    else Some(s"replica drift: $onlyA rows only in replica, $onlyB only in source")
  }

  test("fuzz: a replica following per-version feed windows tracks every op sequence") {
    for (trial <- 1 to 3) {
      val srcP = tmp(s"cdcfuzzsrc$trial")
      val repP = tmp(s"cdcfuzzrep$trial")
      val conf = spark.sparkContext.hadoopConfiguration
      val v1 = mk(1L to 150L)
      // every trial exercises a different physical layout: the CDC loop
      // must be layout-blind (the feed is rows, not files)
      val (subparts, cluster, curve) = trial match {
        case 1 => (1, Nil, "range")
        case 2 => (3, Nil, "range")
        case _ => (1, Seq("value", "ts_us"), "zorder")
      }
      Seq(srcP, repP).foreach { p =>
        Publish.publish(conf, p, keepVersions = 16) { t =>
          EsdbWriter.write(v1, t, subparts = subparts,
            clusterBy = cluster, clusterChunks = 4, clusterCurve = curve)
        }: Unit
      }
      var nextId = 1000L
      var applied = 1L // the replica's last applied source version
      val ops = 5 + rnd.nextInt(3)
      for (step <- 1 to ops) {
        rnd.nextInt(5) match {
          case 0 =>
            EsdbWriter.appendVersioned(mk(nextId to (nextId + 30)), srcP, keepVersions = 16)
            nextId += 100
          case 1 =>
            val cut = rnd.nextInt(60) / 10.0 + 10.0
            EsdbWriter.deleteWhere(spark, srcP,
              Seq(LessThan("value", cut)), keepVersions = 16): Unit
          case 2 =>
            val cut = 70.0 - rnd.nextInt(30) / 10.0
            EsdbWriter.updateWhere(spark, srcP,
              Map("payload" -> lit(s"""{"r": $step}""")),
              Seq(GreaterThanOrEqual("value", cut)), keepVersions = 16): Unit
          case 3 =>
            // keyed merge: rewrite a few known ids + insert fresh ones
            val existing = EsdbWriter.read(spark, srcP)
              .select("event_id").limit(5).as[Long].collect().toSeq
            val srcDf = mk(existing ++ (nextId to (nextId + 5)))
            nextId += 100
            EsdbWriter.mergeInto(spark, srcP, srcDf, Seq("event_id"), keepVersions = 16): Unit
          case 4 =>
            EsdbWriter.compact(spark, srcP, keepVersions = 16)
        }
        // the replica drains every newly committed version, one window
        // at a time — the streaming follower's exact access pattern
        val head = Publish.currentVersion(conf, srcP).get._1
        while (applied < head) {
          val feed = EsdbWriter.changesFeedBetween(spark, srcP, applied, Some(applied + 1))
          // r12: the hashed projection and the EXCEPT ALL audit path
          // must agree on every randomized window (appends, deletes,
          // updates, merges, compactions — multiset semantics included)
          val exact = EsdbWriter.changesFeedBetween(spark, srcP, applied,
            Some(applied + 1), exact = true)
          val onlyHashed = feed.exceptAll(exact).count()
          val onlyExact = exact.exceptAll(feed).count()
          assert(onlyHashed == 0 && onlyExact == 0,
            s"trial $trial window $applied: hashed vs exact feed diverged " +
              s"($onlyHashed hashed-only, $onlyExact exact-only)")
          EsdbWriter.applyChanges(spark, repP, feed, keepVersions = 4): Unit
          applied += 1
        }
        contentEqual(EsdbWriter.readOrdered(spark, repP),
          EsdbWriter.readOrdered(spark, srcP)).foreach { msg =>
          fail(s"trial $trial step $step ($ops ops): $msg")
        }
      }
      // the groupings manifests agree too (the delta upkeep is exact)
      val srcPairs = EsdbWriter.manifestGroupings(spark, srcP).get.toSet
      val repPairs = EsdbWriter.manifestGroupings(spark, repP).get.toSet
      assert(srcPairs == repPairs,
        s"trial $trial manifest drift: src-only=${srcPairs -- repPairs} rep-only=${repPairs -- srcPairs}")
    }
  }
}
