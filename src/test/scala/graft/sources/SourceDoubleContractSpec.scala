package graft.sources

import graft.core._
import graft.sources.cdc.{ChangeSource, ScriptedChangeSource}
import graft.sources.db2.Db2AsnChangeSource
import graft.sources.mongo.DocumentChangeSource
import graft.sources.mysql.{BinlogServerDouble, BinlogSocketChangeSource}
import graft.sources.oracle.LogMinerChangeSource
import graft.sources.postgres.{Wal2Json, WalChangeSource}
import graft.sources.sqlserver.SqlServerChangeSource
import graft.sources.tidb.TiCdcChangeSource
import graft.sources.vitess.VStreamChangeSource
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The snapshot side every in-process CDC double shares: one scripted
  * history (inserts, an in-place update, a PK-changing update, a delete,
  * the family's DDL, then more of each) goes through each double's own
  * write API, and after every step each chunk read, the key stats and the
  * event keys must agree with a plain fold of the history. Chunks compare
  * as sets: a chunk query has no ORDER BY. */
class SourceDoubleContractSpec extends AnyFunSuite {
  import SourceDoubleContractSpec._

  private val tid = TableId.parse("app.users")
  private val schema = TableSchema(
    StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("v", StringType))),
    primaryKeys = Seq("id"))
  private val addW = AddColumnEvent(tid,
    Seq(AddColumnEvent.ColumnWithPosition("w", CdcTypes.StringT())))

  private def row(id: Long, v: String, extra: Row = Map.empty): Row =
    Map[String, Any]("id" -> id, "v" -> v) ++ extra
  private val initial = Seq(1L, 2L, 3L, 4L, 5L, 45L, 90L, 130L).map(k => row(k, s"i$k"))

  /** Rows written after the DDL carry `w` (the added column) in the
    * families whose DDL adds it; they touch only rows written after the DDL,
    * so a DDL that empties the table leaves them valid. */
  private def history(w: Row): Seq[Step] = Seq(
    Write(DataChangeEvent.insert(tid, row(10, "a"))),
    Write(DataChangeEvent.insert(tid, row(50, "b"))),
    Write(DataChangeEvent.update(tid, row(2, "i2"), row(2, "u2"))),
    Write(DataChangeEvent.update(tid, row(3, "i3"), row(30, "u3"))),
    Write(DataChangeEvent.delete(tid, row(4, "i4"))),
    Ddl,
    Write(DataChangeEvent.insert(tid, row(60, "c", w))),
    Write(DataChangeEvent.insert(tid, row(61, "d", w))),
    Write(DataChangeEvent.update(tid, row(60, "c", w), row(62, "e", w))),
    Write(DataChangeEvent.delete(tid, row(61, "d", w))))

  private def key(r: Row): Long = r("id").asInstanceOf[Long]
  private def keyOf(e: DataChangeEvent): Long =
    key(if (e.op == OperationType.DELETE) e.before else e.after)

  /** The live table after `steps`; `clears` = the family's DDL empties it. */
  private def fold(steps: Seq[Step], clears: Boolean): Map[Long, Row] =
    steps.foldLeft(initial.map(r => key(r) -> r).toMap) {
      case (t, Ddl) => if (clears) Map.empty else t
      case (t, Write(e)) if e.op == OperationType.DELETE => t - key(e.before)
      case (t, Write(e)) =>
        (if (e.before.isEmpty) t else t - key(e.before)) + (key(e.after) -> e.after)
    }

  private val doubles: Seq[(String, () => Double)] = Seq(
    "ScriptedChangeSource" -> { () =>
      val s = new ScriptedChangeSource(tid, schema, initial)
      Double(s, {
        case Write(e) => s.append(e)
        case Ddl => s.appendDdl(addW)
      }, addsColumn = true)
    },
    "LogMinerChangeSource" -> { () =>
      val s = new LogMinerChangeSource(tid, schema, initial)
      Double(s, {
        case Write(e) =>
          val tx = s.begin()
          e.op match {
            case OperationType.INSERT => tx.insert(e.after)
            case OperationType.UPDATE => tx.update(e.before, e.after)
            case _ => tx.delete(e.before)
          }
          tx.commit()
        case Ddl => s.ddl(addW)
      })
    },
    "Db2AsnChangeSource" -> { () =>
      val s = new Db2AsnChangeSource(tid, schema, initial)
      Double(s, {
        case Write(e) => s.commitTx(Seq(e)); s.runCaptureProgram()
        case Ddl => ()
      })
    },
    "SqlServerChangeSource" -> { () =>
      val s = new SqlServerChangeSource(tid, schema, initial)
      Double(s, {
        case Write(e) => s.commitTx(Seq(e)); s.runCaptureJob()
        case Ddl => s.alterTable(addW); s.enableNewCaptureInstance()
      }, addsColumn = true)
    },
    "TiCdcChangeSource" -> { () =>
      val s = new TiCdcChangeSource(tid, schema, initial)
      var ts = 100L
      Double(s, {
        case Write(e) => ts += 2; s.writeCommitted(ts - 1, ts, e)
        case Ddl => ()
      })
    },
    "WalChangeSource" -> { () =>
      val s = new WalChangeSource(tid, schema, initial)
      Double(s, {
        case Write(e) => s.commitTx(Seq(e))
        case Ddl => s.applyCaptureTxs(Seq(
          Wal2Json.Tx(None, 0L, 0L, Seq.empty, Seq(TruncateTableEvent(tid)))))
      }, clears = true)
    },
    "VStreamChangeSource" -> { () =>
      // two shards, so the DDL step can reshard one of them
      val s = new VStreamChangeSource(tid, schema, initial, initialShards = 2)
      Double(s, {
        case Write(e) => s.write(e)
        case Ddl => s.reshard(0)
      })
    },
    "DocumentChangeSource" -> { () =>
      val s = new DocumentChangeSource(tid, initial.map(r => key(r) -> r("v").toString))
      def doc(r: Row): String = r("v").toString
      Double(s, {
        case Write(e) => e.op match {
          case OperationType.INSERT => s.insertDoc(key(e.after), doc(e.after))
          case OperationType.UPDATE if key(e.before) == key(e.after) =>
            s.updateDoc(key(e.after), doc(e.after))
          case OperationType.UPDATE => // `_id` is immutable: a move is delete + insert
            s.deleteDoc(key(e.before)); s.insertDoc(key(e.after), doc(e.after))
          case _ => s.deleteDoc(key(e.before))
        }
        case Ddl => s.dropCollection()
      }, clears = true, view = r => Map[String, Any]("_id" -> key(r), "doc" -> doc(r)))
    },
    "BinlogServerDouble" -> { () =>
      val d = new BinlogServerDouble(tid, schema, initial)
      Double(new BinlogSocketChangeSource(d), {
        case Write(e) => d.commitTx(Seq(e))
        case Ddl => d.appendDdl("ALTER TABLE app.users ADD COLUMN w VARCHAR(32)")
      }, addsColumn = true)
    })

  /** Half-open chunks bounded at live keys, so both bound rules show. */
  private val chunks: Seq[(Option[Long], Option[Long])] = {
    val bounds = None +: Seq(2L, 30L, 62L, 130L).map(Some(_)) :+ None
    (None, None) +: bounds.zip(bounds.tail)
  }

  doubles.foreach { case (name, make) =>
    test(s"$name: chunk reads, key stats and event keys follow the fold of the history") {
      val d = make()
      val steps = history(if (d.addsColumn) Map("w" -> "x") else Map.empty)
      (0 to steps.size).foreach { n =>
        if (n > 0) d.write(steps(n - 1))
        val live = fold(steps.take(n), d.clears)
        val at = s"after ${steps.take(n).lastOption.getOrElse("the initial rows")}"
        chunks.foreach { case (lo, hi) =>
          val got = d.source.snapshotRead(lo, hi)
          val want = live.collect {
            case (k, r) if lo.forall(k >= _) && hi.forall(k < _) => d.view(r)
          }.toSet
          assert(got.toSet == want && got.size == want.size, s"chunk [$lo, $hi) $at")
        }
        val keys = live.keys
        val stats =
          if (keys.isEmpty) (None, None, 0L) else (Some(keys.min), Some(keys.max), keys.size.toLong)
        assert(d.source.keyStats == stats, s"key stats $at")
      }
      steps.foreach {
        case Write(e) =>
          def seen(r: Row): Row = if (r.isEmpty) r else d.view(r)
          val wire = e.copy(before = seen(e.before), after = seen(e.after))
          assert(d.source.keyOfEvent(wire) == keyOf(e), s"key of $wire")
        case Ddl => ()
      }
    }
  }
}

object SourceDoubleContractSpec {
  private type Row = Map[String, Any]

  private sealed trait Step
  private final case class Write(e: DataChangeEvent) extends Step
  private case object Ddl extends Step

  /** One double: its source view, how a step reaches its write API, and how
    * a history row looks in its table. */
  private final case class Double(
      source: ChangeSource,
      write: Step => Unit,
      addsColumn: Boolean = false,
      clears: Boolean = false,
      view: Row => Row = identity)
}
