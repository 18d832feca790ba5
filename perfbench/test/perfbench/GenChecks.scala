package perfbench

/** Checks of the seeded generators and their oracle checker, without Spark.
  * Run by the benchmark's build (`python3 perfbench/run.py --self-test`);
  * exits non-zero when any check fails. */
object GenChecks {

  private def script(seed: Long) = Gen.changeScript(seed, 300, 4, 500, 3, 8)

  private def snapDigest(seed: Long) =
    Gen.Digest.of(Gen.snapshotOut(Gen.snapshotRows(seed, 5000)).valuesIterator)

  private def rowsOf(s: Gen.ChangeScript): Seq[Seq[Any]] =
    s.finalRows.values.toSeq.map(r => s.columns.map(r.getOrElse(_, null)))

  val checks: Seq[(String, () => Boolean)] = Seq(
    "the same seed gives the same snapshot rows and checksum" -> { () =>
      Gen.snapshotRows(7, 5000) == Gen.snapshotRows(7, 5000) && snapDigest(7) == snapDigest(7)
    },
    "the same seed gives the same change stream and checksums" -> { () =>
      val (a, b) = (script(7), script(7))
      a == b && a.finalDigest == b.finalDigest
    },
    "a different seed gives different snapshot rows and checksum" -> { () =>
      Gen.snapshotRows(7, 5000) != Gen.snapshotRows(8, 5000) && snapDigest(7) != snapDigest(8)
    },
    "a different seed gives a different change stream and checksum" -> { () =>
      val (a, b) = (script(7), script(8))
      a.backlog != b.backlog && a.rounds.map(_.txns) != b.rounds.map(_.txns) &&
        a.finalDigest != b.finalDigest
    },
    "every round holds every op kind, one ADD COLUMN mid-segment and the same work" -> { () =>
      import graft.core.OperationType._
      val s = script(7)
      s.rounds.forall { r =>
        r.segment.collect { case Gen.Data(e) => e.op }.toSet == Set(INSERT, UPDATE, DELETE) &&
          r.segment.indexWhere(_.isInstanceOf[Gen.AddColumn]) == 250 &&
          r.segment.count(_.isInstanceOf[Gen.AddColumn]) == 1 &&
          r.events == 500 && r.txns.map(_.size) == Seq(8, 8, 8)
      } && s.columns == Seq("k", "a", "b", "c", "d", "x1", "x2", "x3", "x4")
    },
    "updates are skewed: the hottest key takes far more than an even share" -> { () =>
      val s = script(7)
      val updated = s.backlog.collect {
        case Gen.Data(e) if e.op == graft.core.OperationType.UPDATE => e.after("k")
      }
      val top = updated.groupBy(identity).values.map(_.size).max
      top > 10 * updated.size / s.initial.size
    },
    "the checksum ignores row order" -> { () =>
      val rows = rowsOf(script(7))
      Gen.Digest.of(rows.iterator) == Gen.Digest.of(rows.reverse.iterator)
    },
    "the checker rejects a table with one row perturbed" -> { () =>
      val s = script(7)
      val rows = rowsOf(s).toIndexedSeq
      val i = rows.indexWhere(_(1) != null)
      val perturbed = rows.updated(i, rows(i).updated(1, rows(i)(1).asInstanceOf[Long] + 1))
      Gen.Digest.of(rows.iterator) == s.finalDigest &&
        Gen.Digest.of(perturbed.iterator) != s.finalDigest
    },
    "the checker rejects a table with one row missing, duplicated or nulled" -> { () =>
      val s = script(7)
      val rows = rowsOf(s)
      Gen.Digest.of(rows.tail.iterator) != s.finalDigest &&
        Gen.Digest.of((rows :+ rows.head).tail.iterator) == s.finalDigest &&
        Gen.Digest.of((rows :+ rows.head).iterator) != s.finalDigest &&
        Gen.Digest.of((rows.head.updated(2, null) +: rows.tail).iterator) != s.finalDigest
    },
    "the snapshot oracle applies the filter and the projection" -> { () =>
      val base = Map[String, Any]("id" -> 4L, "name" -> "abc", "price" -> 1.5, "cat" -> "eta",
        "ts" -> 2000L)
      Gen.snapTransform(base + ("qty" -> 5)).isEmpty &&
        Gen.snapTransform(base + ("qty" -> 6)).contains(Seq(4L, "ABC", "eta-6", 9.0, 13, 1000L))
    })

  def main(args: Array[String]): Unit = {
    val failed = checks.filterNot { case (name, check) =>
      val ok = try check() catch { case e: Throwable => Console.err.println(e); false }
      Console.err.println(s"${if (ok) "ok  " else "FAIL"} $name")
      ok
    }
    Console.err.println(s"${checks.size - failed.size}/${checks.size} generator checks passed")
    if (failed.nonEmpty) sys.exit(1)
  }
}
