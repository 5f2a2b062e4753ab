package graft.sinks

import java.nio.file.Files
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase
import graft.cdc.ChangeEvent

/** The CDC-maintained LSH near-dup index: candidate pairs stay exact for
  * the CURRENT corpus under insert/edit/delete churn, crash replay,
  * compaction, truncate — and always equal a from-scratch index rebuild
  * of the surviving documents.
  */
class MaintainedLshIndexSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private def envelope(rows: Seq[Row]) =
    spark.createDataFrame(
      new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      ChangeEvent.schema)

  private val T = new java.sql.Timestamp(1700000000000L)
  private def ev(
      lsn: Long, op: String,
      before: Map[String, String], after: Map[String, String]): Row =
    Row(lsn, lsn, 7L, op, "public", "docs", T, T, Seq("id"), before, after)
  private def doc(id: String, text: String): Map[String, String] =
    Map("id" -> id, "text" -> text)

  private val TextA = "the quick brown fox jumps over the lazy dog tonight"
  private val TextB = "completely different words about winter mountain hiking trails today"
  private val Short = "too few tokens" // < 5 tokens: contributes nothing

  private def mkIndex(sink: LakeSink, name: String = "lsh") =
    new MaintainedLshIndex(sink, "public", "docs", name,
      idKey = "id", textKey = "text", stateBuckets = 8)

  private def pairs(ix: MaintainedLshIndex): Set[(String, String)] =
    ix.candidatePairs(spark).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet

  private def withIndex(body: (LakeSink, MaintainedLshIndex, String) => Unit): Unit = {
    val dir = Files.createTempDirectory("lake-lsh").toString
    try {
      val sink = new LakeSink(dir)
      body(sink, mkIndex(sink), dir)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("exact duplicates collide; edits and deletes retract their signatures") {
    withIndex { (sink, ix, _) =>
      // a1/a2 share TextA (all bands collide — deterministic); c differs
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", null, doc("a1", TextA)),
        ev(2, "insert", null, doc("a2", TextA)),
        ev(3, "insert", null, doc("c", TextB)))), 0L)
      assert(ix.refresh(spark) == 1)
      assert(pairs(ix) == Set(("a1", "a2")))
      // edit a2 away (to a text sharing no shingles with anything —
      // an overlap with TextB would legitimately pair it with c): its
      // old signatures retract, the pair disappears
      sink.appendBatch(envelope(Seq(
        ev(4, "update", doc("a2", TextA),
          doc("a2", "seven orange submarines quietly measure distant galactic harmonics")))), 1L)
      assert(ix.refresh(spark) == 1)
      assert(pairs(ix).isEmpty, s"pair must retract with the edit: ${pairs(ix)}")
      // a NEW duplicate of a1 re-collides
      sink.appendBatch(envelope(Seq(
        ev(5, "insert", null, doc("d", TextA)))), 2L)
      assert(ix.refresh(spark) == 1)
      assert(pairs(ix) == Set(("a1", "d")))
      // deleting a1 removes exactly its rows
      sink.appendBatch(envelope(Seq(
        ev(6, "delete", doc("a1", TextA), null))), 3L)
      assert(ix.refresh(spark) == 1)
      assert(pairs(ix).isEmpty)
      // the collision-bucket view agrees: no bucket holds 2 docs now
      assert(ix.buckets(spark).filter("nd_docs >= 2").isEmpty)
    }
  }

  test("short documents contribute nothing; short<->long edits are pure insert/delete") {
    withIndex { (sink, ix, _) =>
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", null, doc("s", Short)),
        ev(2, "insert", null, doc("a", TextA)))), 0L)
      assert(ix.refresh(spark) == 1)
      assert(pairs(ix).isEmpty)
      assert(ix.buckets(spark).count() == 4L, "only the long doc's 4 bands")
      // short -> long: the edit is a pure signature insert, and it
      // duplicates TextA -> pair appears
      sink.appendBatch(envelope(Seq(
        ev(3, "update", doc("s", Short), doc("s", TextA)))), 1L)
      assert(ix.refresh(spark) == 1)
      assert(pairs(ix) == Set(("a", "s")))
      // long -> short: pure signature retraction
      sink.appendBatch(envelope(Seq(
        ev(4, "update", doc("s", TextA), doc("s", Short)))), 2L)
      assert(ix.refresh(spark) == 1)
      assert(pairs(ix).isEmpty)
    }
  }

  test("candidatesFor: bucket-pruned point lookup finds duplicates of a probe text") {
    withIndex { (sink, ix, _) =>
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", null, doc("a1", TextA)),
        ev(2, "insert", null, doc("a2", TextA)),
        ev(3, "insert", null, doc("c", TextB)))), 0L)
      assert(ix.refresh(spark) == 1)
      // an exact-duplicate probe hits both copies in every band
      val got = ix.candidatesFor(spark, TextA).collect()
        .map(r => r.getString(0) -> r.getInt(1)).toMap
      assert(got == Map("a1" -> 4, "a2" -> 4), s"probe hits: $got")
      // an unrelated probe hits nothing; a short probe contributes nothing
      assert(ix.candidatesFor(spark,
        "nine silent purple engines rehearse underwater chess openings").isEmpty)
      assert(ix.candidatesFor(spark, Short).isEmpty)
      // BOTH branches must return the same (id, bands_hit) shape — a
      // short-probe schema that differed would throw AnalysisException on
      // callers selecting bands_hit exactly and only for short probes
      assert(ix.candidatesFor(spark, Short).schema ==
        ix.candidatesFor(spark, TextA).schema,
        "short-probe branch must match the normal result schema")
    }
  }

  test("replay after a lost cursor advance is idempotent") {
    withIndex { (sink, ix, root) =>
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", null, doc("a1", TextA)),
        ev(2, "insert", null, doc("a2", TextA)))), 0L)
      assert(ix.refresh(spark) == 1)
      sink.appendBatch(envelope(Seq(
        ev(3, "delete", doc("a2", TextA), null))), 1L)
      assert(ix.refresh(spark) == 1)
      assert(pairs(ix).isEmpty)
      // crash window: state committed, cursor advance lost — a replayed
      // retraction would trip the negative-refcount check if double-applied
      val cf = new java.io.File(s"$root/_graft_cursors/view_lsh")
      new java.io.File(s"$root/_graft_cursors/.view_lsh.crc").delete()
      java.nio.file.Files.write(cf.toPath, "0:0".getBytes)
      assert(ix.refresh(spark) == 1)
      assert(pairs(ix).isEmpty)
    }
  }

  test("seed after compact+vacuum indexes BASE-only documents") {
    withIndex { (sink, ix, _) =>
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", null, doc("a1", TextA)),
        ev(2, "insert", null, doc("c", TextB)))), 0L)
      sink.compact(spark)
      sink.vacuum(spark) // batch 0's changelog gone; docs live only in BASE
      sink.seedCursor(spark, "view_lsh")
      sink.appendBatch(envelope(Seq(
        ev(3, "insert", null, doc("a2", TextA)))), 1L)
      assert(ix.refresh(spark) == 1)
      // a1 exists only in BASE — the seed recompute must index it
      assert(pairs(ix) == Set(("a1", "a2")))
    }
  }

  test("truncate resets the index") {
    withIndex { (sink, ix, _) =>
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", null, doc("a1", TextA)),
        ev(2, "insert", null, doc("a2", TextA)))), 0L)
      assert(ix.refresh(spark) == 1)
      assert(pairs(ix) == Set(("a1", "a2")))
      sink.appendBatch(envelope(Seq(
        ev(3, "truncate", null, null),
        ev(4, "insert", null, doc("z", TextB)))), 1L)
      assert(ix.refresh(spark) == 1)
      assert(pairs(ix).isEmpty)
      assert(ix.buckets(spark).count() == 4L, "only the post-truncate doc")
    }
  }

  test("verifiedPairs/verifiedCandidatesFor: exact Jaccard finishes the candidates") {
    withIndex { (sink, ix, _) =>
      // `near` shares 6 of its 7 shingles with TextA (one appended token):
      // LSH candidates it, exact Jaccard = 6/7 — kept at 0.5, REJECTED at
      // 0.95 (the planted candidate-but-not-duplicate the candidates-only
      // read would hand a user as a false positive)
      val near = TextA + " again"
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", null, doc("a1", TextA)),
        ev(2, "insert", null, doc("a2", TextA)),
        ev(3, "insert", null, doc("n", near)),
        ev(4, "insert", null, doc("c", TextB)))), 0L)
      assert(ix.refresh(spark) == 1)
      assert(pairs(ix).contains(("a1", "n")),
        s"the near-dup must be an LSH candidate for this test to bite: ${pairs(ix)}")
      val strict = ix.verifiedPairs(spark, 0.95).collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      assert(strict == Set(("a1", "a2")),
        s"0.95 keeps only the exact duplicate: $strict")
      val loose = ix.verifiedPairs(spark, 0.5).collect()
        .map(r => ((r.getString(0), r.getString(1)), r.getDouble(2))).toMap
      assert(loose.keySet == Set(("a1", "a2"), ("a1", "n"), ("a2", "n")))
      assert(loose(("a1", "a2")) == 1.0)
      assert(math.abs(loose(("a1", "n")) - 6.0 / 7) < 1e-12,
        s"Jaccard must be exact: ${loose(("a1", "n"))}")
      // churn: delete a2 — its verified pairs retract with it
      sink.appendBatch(envelope(Seq(
        ev(5, "delete", doc("a2", TextA), null))), 1L)
      assert(ix.refresh(spark) == 1)
      assert(ix.verifiedPairs(spark, 0.5).collect()
        .map(r => (r.getString(0), r.getString(1))).toSet == Set(("a1", "n")))
      // the verified point probe: candidates Jaccard-checked against the
      // probe text itself
      assert(ix.verifiedCandidatesFor(spark, TextA, 0.95).collect()
        .map(_.getString(0)).toSet == Set("a1"))
      val vc = ix.verifiedCandidatesFor(spark, TextA, 0.5).collect()
        .map(r => r.getString(0) -> r.getDouble(2)).toMap
      assert(vc.keySet == Set("a1", "n") && vc("a1") == 1.0 &&
        math.abs(vc("n") - 6.0 / 7) < 1e-12, s"verified probe: $vc")
      // short probe: empty, full verified schema on both branches
      val short = ix.verifiedCandidatesFor(spark, Short, 0.5)
      assert(short.isEmpty &&
        short.columns.toSeq == Seq("id", "bands_hit", "jaccard"))
    }
  }

  test("changed bands/shingleN over an existing state refuse loudly; rebuild migrates") {
    withIndex { (sink, ix, root) =>
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", null, doc("a1", TextA)),
        ev(2, "insert", null, doc("a2", TextA)))), 0L)
      assert(ix.refresh(spark) == 1)
      assert(pairs(ix) == Set(("a1", "a2")))
      // same state dir, different signature family (8 bands instead of
      // 4): an unguarded open would post future events under 8-band
      // signatures on top of 4-band state rows
      val ix8 = new MaintainedLshIndex(sink, "public", "docs", "lsh",
        idKey = "id", textKey = "text", bands = 8, stateBuckets = 8)
      val e = intercept[IllegalStateException](ix8.refresh(spark))
      assert(e.getMessage.contains("different parameters") &&
        e.getMessage.contains("rebuild"),
        s"refusal must name the rebuild path: ${e.getMessage}")
      intercept[IllegalStateException](ix8.candidatePairs(spark))
      intercept[IllegalStateException](ix8.buckets(spark))
      // the prescribed migration: full re-shingle under the new family
      ix8.rebuild(spark)
      assert(ix8.buckets(spark).count() == 8L,
        "both docs re-shingled under 8 shared bands")
      assert(pairs(ix8) == Set(("a1", "a2")))
      val got = ix8.candidatesFor(spark, TextA).collect()
        .map(r => r.getString(0) -> r.getInt(1)).toMap
      assert(got == Map("a1" -> 8, "a2" -> 8),
        s"probe must agree with the new family end-to-end: $got")
      // the original 4-band instance is now the mismatched one
      intercept[IllegalStateException](ix.refresh(spark))
      intercept[IllegalStateException](ix.buckets(spark))
      // rebuild is re-runnable (each run commits under a fresh uniquely
      // tagged slice dir — the live version is never deleted mid-flight)
      ix8.rebuild(spark)
      assert(pairs(ix8) == Set(("a1", "a2")))
      // a crash MID-rebuild leaves the in-progress marker: EVERY instance
      // (old and new family alike) refuses until a rebuild completes —
      // adopting before/after the commit alone would let one family
      // silently advance a half-migrated state. (Drop every existing
      // generation file first — the guard reads the HIGHEST generation.)
      val viewDir = new java.io.File(s"$root/_graft_views/lsh")
      viewDir.listFiles().filter(_.getName.contains("_fingerprint"))
        .foreach(_.delete())
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$root/_graft_views/lsh/_fingerprint"),
        "rebuilding->interrupted".getBytes)
      intercept[IllegalStateException](ix8.refresh(spark))
      intercept[IllegalStateException](ix8.buckets(spark))
      intercept[IllegalStateException](ix.refresh(spark))
      ix8.rebuild(spark) // re-run completes the migration and adopts
      assert(pairs(ix8) == Set(("a1", "a2")))
      assert(ix8.refresh(spark) == 0) // incremental loop healthy again
    }
  }

  test("sampled equivalence check is non-vacuous and still catches planted drift inside the sample") {
    withIndex { (sink, ix, _) =>
      // ten docs so the 25% sample (xxhash64(id) % 4 == the key-derived
      // rotating residue) is non-empty
      val ids = (0 until 10).map(i => s"doc$i")
      sink.appendBatch(envelope(ids.zipWithIndex.map { case (id, i) =>
        ev(i + 1L, "insert", null, doc(id, TextA + " " + id))
      }), 0L)
      assert(ix.refresh(spark) == 1)
      // full and sampled checks both pass and report their coverage
      val full = ix.assertConsistent(spark)
      val sampled = ix.assertConsistent(spark, sampleMod = 4)
      assert(full == 40L, s"10 docs x 4 bands: $full") // 4 bands per doc
      assert(sampled > 0 && sampled < full,
        s"sample must be a strict non-empty subset: $sampled of $full")
      // plant drift on a doc INSIDE the sample: doctor the committed
      // state version, dropping that doc's signature rows. The victim's
      // residue is DERIVED the same way assertConsistent derives it
      // (rotating on the verified key) — a hardcoded residue would pass
      // only while this test's applied interval stays where it is
      import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
      val states = ix.md.stateLog
      val f = states.fs(spark)
      val key = states.latest(f).get
      val rem = SampleResidues.of(key, 4)
      val victim = ids.find { id =>
        spark.range(1).select(
          pmod(xxhash64(lit(id)), lit(4L)).as("h")).head().getLong(0) == rem
      }.get
      val schema = ix.dist.init(spark).schema
      val doctored = states.read(spark, key, schema)
        .filter(col("v") =!= victim).localCheckpoint()
      states.commit(f, doctored, (0 until 8).toSet, None, key, dirTag = ".x")
      val e = intercept[IllegalStateException](
        ix.assertConsistent(spark, sampleMod = 4))
      assert(e.getMessage.contains("diverged"), e.getMessage)
      intercept[IllegalStateException](ix.assertConsistent(spark))
    }
  }

  test("committed state with NO fingerprint refuses — rebuild migrates") {
    withIndex { (sink, ix, root) =>
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", null, doc("a1", TextA)),
        ev(2, "insert", null, doc("a2", TextA)))), 0L)
      assert(ix.refresh(spark) == 1)
      // committed versions exist but the fingerprint file is gone
      val viewDir = new java.io.File(s"$root/_graft_views/lsh")
      viewDir.listFiles().filter(_.getName.contains("_fingerprint"))
        .foreach(_.delete())
      // an opener with CHANGED params must NOT silently stamp its own
      // fingerprint over the unknown-model state (the pre-fix hole:
      // adoptIfAbsent blessed it on the next refresh)
      val ix8 = new MaintainedLshIndex(sink, "public", "docs", "lsh",
        idKey = "id", textKey = "text", bands = 8, stateBuckets = 8)
      val e = intercept[IllegalStateException](ix8.refresh(spark))
      assert(e.getMessage.contains("no parameter fingerprint") &&
        e.getMessage.contains("rebuild"),
        s"refusal must name the migration path: ${e.getMessage}")
      intercept[IllegalStateException](ix8.candidatePairs(spark))
      // the SAME-params instance cannot be distinguished either — it
      // refuses too
      intercept[IllegalStateException](ix.refresh(spark))
      intercept[IllegalStateException](ix.buckets(spark))
      // rebuild is the no-trust path over a fingerprintless dir
      ix8.rebuild(spark)
      assert(ix8.buckets(spark).count() == 8L)
      intercept[IllegalStateException](ix.refresh(spark))
    }
  }

  test("a state dir fingerprinted before the Hash60 kernel refuses — rebuild migrates") {
    withIndex { (sink, ix, root) =>
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", null, doc("a1", TextA)),
        ev(2, "insert", null, doc("a2", TextA)))), 0L)
      assert(ix.refresh(spark) == 1)
      // the fingerprint an xxhash64-shingle index wrote for these params:
      // its signatures are another family, so serving them would miss
      val viewDir = new java.io.File(s"$root/_graft_views/lsh")
      viewDir.listFiles().filter(_.getName.contains("_fingerprint"))
        .foreach(_.delete())
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$root/_graft_views/lsh/_fingerprint"),
        ("lsh bands=4 shingleN=5 idKey=id textKey=text buckets=8 " +
          "seeds=lsh-lsh-seed").getBytes)
      val e = intercept[IllegalStateException](ix.refresh(spark))
      assert(e.getMessage.contains("different parameters") &&
        e.getMessage.contains("rebuild"),
        s"refusal must name the rebuild path: ${e.getMessage}")
      intercept[IllegalStateException](ix.candidatePairs(spark))
      ix.rebuild(spark)
      assert(pairs(ix) == Set(("a1", "a2")))
      val got = ix.candidatesFor(spark, TextA).collect()
        .map(r => r.getString(0) -> r.getInt(1)).toMap
      assert(got == Map("a1" -> 4, "a2" -> 4), s"probe after the migration: $got")
      assert(ix.refresh(spark) == 0)
    }
  }

  test("rebuild after a crashed manifest replace recovers the full cursor span") {
    withIndex { (sink, ix, root) =>
      // two refreshes leave the replay-prev v(0,0) AND the latest v(0,1)
      sink.appendBatch(envelope(Seq(
        ev(1, "insert", null, doc("a1", TextA)),
        ev(2, "insert", null, doc("a2", TextA)))), 0L)
      assert(ix.refresh(spark) == 1)
      sink.appendBatch(envelope(Seq(
        ev(3, "delete", doc("a2", TextA), null))), 1L)
      assert(ix.refresh(spark) == 1)
      assert(pairs(ix).isEmpty)
      // crash window: a rebuild died after deleting the NEWEST manifest
      // (in-place recommit's delete+rename) and left its marker
      val commits = new java.io.File(s"$root/_graft_views/lsh/_commits")
      val newest = commits.listFiles()
        .filter(_.getName.startsWith("manifest.")).map(_.getName).sorted.last
      new java.io.File(commits, newest).delete()
      new java.io.File(commits, s".$newest.crc").delete()
      val viewDir = new java.io.File(s"$root/_graft_views/lsh")
      viewDir.listFiles().filter(_.getName.contains("_fingerprint"))
        .foreach(_.delete())
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$root/_graft_views/lsh/_fingerprint"),
        "rebuilding->interrupted".getBytes)
      intercept[IllegalStateException](ix.refresh(spark))
      // re-run: the target must be the UNION of the surviving replay-prev
      // and the cursor's applied interval — recommitting at the
      // survivor's key would silently drop batch 1's delete forever
      // (poll never re-delivers inside the cursor)
      ix.rebuild(spark)
      assert(pairs(ix).isEmpty,
        "recovered state must include batch 1's delete, not just v(0,0)")
      assert(ix.buckets(spark).count() == 4L, "only a1's 4 bands survive")
      assert(ix.refresh(spark) == 0)
      // and the loop is fully healthy: new churn still applies
      sink.appendBatch(envelope(Seq(
        ev(4, "insert", null, doc("d", TextA)))), 2L)
      assert(ix.refresh(spark) == 1)
      assert(pairs(ix) == Set(("a1", "d")))
    }
  }

  test("maintained index equals a from-scratch rebuild after arbitrary churn") {
    // random-ish churn over a small doc pool (deterministic seed), then:
    // maintained candidatePairs == the pairs of a FRESH index fed the
    // surviving corpus as one insert batch — maintenance must be
    // indistinguishable from rebuild
    val texts = Seq(
      TextA, TextB, Short,
      "alpha beta gamma delta epsilon zeta eta theta",
      TextA + " extra", "one two three four five six seven eight nine")
    withIndex { (sink, ix, _) =>
      val rnd = new scala.util.Random(16L)
      val live = scala.collection.mutable.Map.empty[String, String]
      var lsn = 10L
      (0 until 6).foreach { batch =>
        val rows = (0 until 3).map { _ =>
          lsn += 1
          val id = s"d${rnd.nextInt(8)}"
          live.get(id) match {
            case Some(old) if rnd.nextInt(4) == 0 =>
              live.remove(id); ev(lsn, "delete", doc(id, old), null)
            case Some(old) =>
              val t = texts(rnd.nextInt(texts.size))
              live(id) = t; ev(lsn, "update", doc(id, old), doc(id, t))
            case None =>
              val t = texts(rnd.nextInt(texts.size))
              live(id) = t; ev(lsn, "insert", null, doc(id, t))
          }
        }
        sink.appendBatch(envelope(rows), batch.toLong)
        assert(ix.refresh(spark) == 1)
        // rebuild from scratch on a fresh lake with the surviving corpus
        val dir2 = Files.createTempDirectory("lake-lsh-rebuild").toString
        try {
          val sink2 = new LakeSink(dir2)
          val fresh = mkIndex(sink2, "lsh")
          sink2.appendBatch(envelope(live.toSeq.zipWithIndex.map {
            case ((id, t), i) => ev(1000L + i, "insert", null, doc(id, t))
          }), 0L)
          fresh.refresh(spark)
          assert(pairs(ix) == pairs(fresh),
            s"batch $batch: maintained != rebuilt (live=$live)")
        } finally org.apache.commons.io.FileUtils.deleteDirectory(
          new java.io.File(dir2))
      }
    }
  }
}
