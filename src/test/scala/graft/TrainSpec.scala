package graft

import org.apache.spark.sql.functions._

import graft.operators.Train

/** Batch-perceptron trainer: distributed epoch arithmetic must equal a
  * scalar fold exactly (integer updates), and the inference margin
  * must apply the trace's final weights.
  */
class TrainSpec extends SparkSpec {

  import spark.implicits._

  private val data = Seq(
    (1L, 3L, 1L), (1L, 1L, 2L), (1L, 5L, 0L),
    (-1L, 2L, 5L), (-1L, 4L, 4L))

  private def scalarTrace(epochs: Int): Seq[(Int, Long, Seq[Long])] = {
    val w = Array(0L, 0L, 0L)
    (1 to epochs).map { e =>
      val mis = data.filter { case (y, f1, f2) =>
        y * (w(0) + w(1) * f1 + w(2) * f2) <= 0
      }
      mis.foreach { case (y, f1, f2) =>
        w(0) += y; w(1) += y * f1; w(2) += y * f2
      }
      (e, mis.size.toLong, w.toSeq)
    }
  }

  test("perceptronTrace: distributed epochs equal the scalar fold") {
    val df = data.toDF("y", "f1", "f2")
    val got = Train.perceptronTrace(df, Seq("f1", "f2"), "y", epochs = 4)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1),
        Seq(r.getAs[Long]("w_bias"), r.getAs[Long]("w_1"), r.getAs[Long]("w_2"))))
      .sortBy(_._1).toSeq
    assert(got == scalarTrace(4))
    // epoch 1 from zero weights: everything misclassified, update is
    // the class-weighted feature sum
    assert(got.head._2 == data.size.toLong)
    assert(got.head._3 == Seq(
      data.map(_._1).sum,
      data.map(t => t._1 * t._2).sum,
      data.map(t => t._1 * t._3).sum))
  }

  test("stumpTrain finds the exact separating threshold and polarity") {
    // y = +1 iff f2 >= 3; f1 is noise
    val rows = (1L to 100L).map(i => (if (i % 7 >= 3) 1L else -1L, i % 5, (i % 7)))
      .map { case (_, f1, f2) => (if (f2 >= 3) 1L else -1L, f1, f2) }
      .toDF("y", "f1", "f2")
    val out = Train.stumpTrain(rows, Seq("f1", "f2"), "y")
      .collect().map(r => r.getAs[String]("feature") ->
        (r.getAs[Long]("thresh"), r.getAs[String]("polarity"),
          r.getAs[Long]("n_err"), r.getAs[Boolean]("is_best"))).toMap
    assert(out("f2") == ((3L, "ge", 0L, true)))
    assert(out("f1")._3 > 0L && !out("f1")._4)
  }

  test("stumpTrain: inverted rule learns the lt polarity; stumpKeep applies it") {
    val rows = (1L to 60L).map(i => (if (i % 6 < 2) 1L else -1L, i % 6))
      .toDF("y", "f")
    val best = Train.stumpTrain(rows, Seq("f"), "y")
      .filter(org.apache.spark.sql.functions.col("is_best")).head()
    assert(best.getAs[String]("polarity") == "lt")
    assert(best.getAs[Long]("thresh") == 2L && best.getAs[Long]("n_err") == 0L)
    val kept = rows.filter(Train.stumpKeep(col("f"), 2L, "lt")).count()
    assert(kept == rows.filter(col("y") === 1L).count())
  }

  test("linearMargin applies the final trace weights map-side") {
    val df = data.toDF("y", "f1", "f2")
    val last = scalarTrace(3).last._3
    val all = df.select(Train.linearMargin(last, Seq("f1", "f2")).as("m"))
      .as[Long].collect().toSeq
    val expected = data.map { case (_, f1, f2) => last(0) + last(1) * f1 + last(2) * f2 }
    assert(all.sorted == expected.sorted)
  }
}
