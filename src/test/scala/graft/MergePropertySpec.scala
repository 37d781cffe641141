package graft

import java.sql.Timestamp

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.lake.LakeTable
import graft.merge.{MergeInto, MergeOptions}
import graft.model.Schemas

/**
 * Property: for ANY delivery order, ANY duplication, ANY epoch split, the
 * merged table equals the sequential max-lsn fold (the 20-line executable
 * spec). This is the determinism-vs-parallelism guarantee (SURVEY.md §7.5) —
 * the final state must be independent of partitioning and arrival order.
 */
final case class Ev(op: String, lsn: Long, conv_id: String, turn_idx: Int,
  role: String, text: String, tool: Option[String], ts: Timestamp)

class MergePropertySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def randomEvents(r: Random, n: Int): Seq[Ev] =
    (0 until n).map { i =>
      val op = r.nextInt(10) match { case 0 => "D"; case 1 | 2 => "U"; case _ => "I" }
      val conv = s"c${r.nextInt(8)}"
      val turn = r.nextInt(5)
      if (op == "D") Ev(op, i.toLong, conv, turn, null, null, None,
        new Timestamp(1700000000000L + i * 1000L))
      else Ev(op, i.toLong, conv, turn, "user", s"text-$conv-$turn-$i", None,
        new Timestamp(1700000000000L + i * 1000L))
    }

  private def fold(evs: Seq[Ev]): Map[(String, Int), Ev] =
    evs.foldLeft(Map.empty[(String, Int), Ev]) { (m, e) =>
      val k = (e.conv_id, e.turn_idx)
      if (m.get(k).exists(_.lsn > e.lsn)) m else m.updated(k, e)
    }.filter(_._2.op != "D")

  test("random permutations + duplications + epoch splits fold to the oracle state") {
    (1 to 5).foreach { seed =>
      val r = new Random(seed)
      val base = randomEvents(r, 300)
      // duplicate ~10% of deliveries, then shuffle the whole delivery order
      val dups = base.filter(_ => r.nextInt(10) == 0)
      val delivered = r.shuffle(base ++ dups)
      // split into 1..4 random epochs
      val nEpochs = 1 + r.nextInt(4)
      val epochs = delivered.zipWithIndex.groupMap(_._2 % nEpochs)(_._1)

      val dir = TestSpark.tmpDir(s"prop-$seed")
      val table = LakeTable.create(s"$dir/t", Schemas.turn)
      (0 until nEpochs).foreach { e =>
        val batch = epochs.getOrElse(e, Seq.empty)
          .toDF()
        MergeInto.merge(spark, table, batch, "prop", e.toLong,
          MergeOptions(targetRowsPerFile = 100))
      }
      val got = table.read(spark).collect()
        .map(row => (row.getString(0), row.getInt(1)) -> row.getString(3)).toMap
      val want = fold(base).map { case (k, e) => k -> e.text }
      assert(got == want, s"seed=$seed nEpochs=$nEpochs")
    }
  }

  test("resolveExchanged keeps each key's max-lsn row under every placement") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.StringType
    import graft.merge.{Placement, Resolve}
    val keys = Seq("conv_id", "turn_idx")
    (1 to 3).foreach { seed =>
      val r = new Random(seed)
      // 40% of versions on 6 hot keys (hundreds each), a cold tail over 400
      // conv_ids, null key parts, and ~12% redelivered (key, lsn) rows
      val rows = (0 until 4000).map { i =>
        val hot = r.nextInt(10) < 4
        val conv =
          if (r.nextInt(50) == 0) None
          else Some(if (hot) s"conv_hot_${r.nextInt(3)}" else f"conv_${r.nextInt(400)}%06d")
        val turn = if (r.nextInt(60) == 0) None else Some(r.nextInt(if (hot) 2 else 4))
        (conv, turn, s"t$seed-$i", i * 7L + seed, r.nextInt(20) == 0)
      }
      val df = r.shuffle(rows ++ rows.filter(_ => r.nextInt(8) == 0))
        .toDF("conv_id", "turn_idx", "text", "_lsn", "_deleted").repartition(3)
      val want = df.groupBy(keys.map(col): _*)
        .agg(max_by(struct(df.columns.map(col).toSeq: _*), col("_lsn")).as("e"))
        .select("e.*").collect().toSet
      Seq(Placement.ByHash, Placement.ByRange,
        Placement.ByBase(StringType, IndexedSeq("conv_000200", "conv_hot_1"), IndexedSeq(2, 3, 1)))
        .foreach { p =>
          val got = Resolve.resolveExchanged(df, keys, sparse = false, 6, p)
          assert(got.columns.toSeq == df.columns.toSeq, s"seed=$seed $p")
          val rows = got.collect()
          assert(rows.length == want.size && rows.toSet == want, s"seed=$seed $p")
        }
    }
  }
}
