package perfbench

import graft.sources.{MysqlBinlog, MysqlBinlogFixture => Fx}

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.Base64
import scala.collection.mutable

/**
 * Change-stream plans. A key is created, then updated, then deleted, and its
 * changes are spread across the stream (so across micro-batches). With
 * `hotKeys > 0`, 80% of the updates go to that many keys that are never
 * deleted: a skewed key distribution.
 */
final class ChangePlan(seed: Long, hotKeys: Int) {
  private val rnd = new scala.util.Random(seed)
  private val live = mutable.ArrayBuffer[Long]()
  private val version = mutable.HashMap[Long, Int]()
  private var nextPk = 1L

  /** Next change: (op, pk, version before, version after). */
  def next(): (Char, Long, Int, Int) = {
    val r = rnd.nextDouble()
    if (live.size < math.max(hotKeys, 1) + 8 || r < 0.30) {
      val pk = nextPk; nextPk += 1
      live += pk; version(pk) = 0
      ('c', pk, -1, 0)
    } else if (r < 0.48) {
      val i = hotKeys + rnd.nextInt(live.size - hotKeys)
      val pk = live(i)
      live(i) = live.last; live.remove(live.size - 1)
      ('d', pk, version.remove(pk).get, -1)
    } else {
      val pk =
        if (hotKeys > 0 && rnd.nextDouble() < 0.8) live(rnd.nextInt(hotKeys))
        else live(rnd.nextInt(live.size))
      val v = version(pk); version(pk) = v + 1
      ('u', pk, v, v + 1)
    }
  }
}

object Gen {
  val OrdersDb: String = Fx.OrdersDb // "inventory": what the chain keeps
  val ShadowDb = "audit" // a second database the table filter drops
  private val ShadowTableId = 43L
  private val Uuid = java.util.UUID.fromString("7b3c52a4-0d1f-11ef-9a21-0242ac120002")

  private def mysqlRow(pk: Long, v: Int): Seq[Any] =
    Fx.orderValues(pk, pk % 997, if (v % 3 == 0) "O" else if (v % 3 == 1) "P" else "F",
      100.0 + (pk % 5000) + v * 0.25, 1700000000000L + pk * 60000L,
      Seq("1-URGENT", "2-HIGH", "3-MEDIUM")(v % 3))

  /** Write `lines` of base64 segments as one backlog file, atomically (a
   * reader never sees a partial file). */
  def writeSegmentFile(dir: Path, name: String, segs: Seq[Array[Byte]]): Unit = {
    val tmp = dir.resolve(name + ".tmp")
    Files.write(tmp, segs.map(s => Base64.getEncoder.encodeToString(s)).mkString("\n").getBytes(UTF_8))
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  final case class Backlog(expected: Seq[(String, Long)], segments: Seq[Array[Byte]])

  /**
   * A MySQL binlog backlog of `events` row changes: transactions of 1–4 row
   * events (GTID … XID), one row image per event, 5% of them on a table of
   * the `audit` database. Written as `eventsPerSegment`-event segments, one
   * to a file. Returns the (key, position) of every change the chain must
   * deliver.
   */
  def mysqlBacklog(dir: Path, seed: Long, events: Int, eventsPerSegment: Int,
                   hotKeys: Int): Backlog = {
    Files.createDirectories(dir)
    val rnd = new scala.util.Random(seed ^ 0x5eed)
    val plan = new ChangePlan(seed, hotKeys)
    val expected = mutable.ArrayBuffer[(String, Long)]()
    val segments = mutable.ArrayBuffer[Array[Byte]]()
    val tsSec = 1760000000L
    var pos = 4L
    var gno = 1L
    var shadowPk = 1L
    var written = 0
    while (written < events) {
      val w = new Fx.W
      Fx.tableMapInto(w, Fx.OrdersTableId, OrdersDb, Fx.OrdersTable, Fx.ordersCols, tsSec, pos)
      Fx.tableMapInto(w, ShadowTableId, ShadowDb, Fx.OrdersTable, Fx.ordersCols, tsSec, pos)
      var inSeg = 0
      while (inSeg < eventsPerSegment && written < events) {
        Fx.gtidInto(w, Uuid, gno, tsSec, pos); gno += 1
        val txEvents = math.min(1 + rnd.nextInt(4), eventsPerSegment - inSeg)
        (0 until txEvents).foreach { _ =>
          pos += 1
          if (rnd.nextDouble() < 0.05) {
            Fx.rowsEventInto(w, MysqlBinlog.WRITE_ROWS_V2, ShadowTableId, Fx.ordersCols,
              Seq(Seq(mysqlRow(shadowPk, 0))), tsSec, pos)
            shadowPk += 1
          } else {
            val (op, pk, v0, v1) = plan.next()
            op match {
              case 'c' => Fx.rowsEventInto(w, MysqlBinlog.WRITE_ROWS_V2, Fx.OrdersTableId, Fx.ordersCols,
                Seq(Seq(mysqlRow(pk, v1))), tsSec, pos)
              case 'u' => Fx.rowsEventInto(w, MysqlBinlog.UPDATE_ROWS_V2, Fx.OrdersTableId, Fx.ordersCols,
                Seq(Seq(mysqlRow(pk, v0), mysqlRow(pk, v1))), tsSec, pos)
              case _ => Fx.rowsEventInto(w, MysqlBinlog.DELETE_ROWS_V2, Fx.OrdersTableId, Fx.ordersCols,
                Seq(Seq(mysqlRow(pk, v0))), tsSec, pos)
            }
            expected += ((s"$OrdersDb.${Fx.OrdersTable}:$pk", pos))
          }
        }
        pos += 1
        Fx.xidInto(w, gno, tsSec, pos)
        inSeg += txEvents; written += txEvents
      }
      segments += w.bytes
    }
    segments.zipWithIndex.foreach { case (seg, i) =>
      writeSegmentFile(dir, f"seg-$i%06d.segb64", Seq(seg))
    }
    Backlog(expected.toSeq, segments.toSeq)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }
}
