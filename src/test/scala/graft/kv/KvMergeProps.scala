package graft.kv

import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.propBoolean

import graft.TestSpark
import graft.connector.{KvHadoopConf, KvMergeFixtures, KvV2Util}

/** Random histories on a BUCKETED table must agree with an in-memory log
  * model through every LWW surface — `readV2`, `get`, `read`, `readAsOf`,
  * the merge scan under a `VERSION AS OF` ceiling, and a same-n
  * `compactBucketed` — whichever path serves them: the merge-on-read
  * scan while every file is recorded key-sorted, the aggregate once a
  * file is not. Histories mix same-key duplicates inside one append,
  * tombstones (each version is also a snapshot ceiling), minor
  * compactions between appends, and files written unsorted. */
object KvMergeProps extends Properties("KvTable.merge") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(5) // each sample runs many real Spark jobs

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = KvSchema.of("k", "v" -> ("f", "v"))
  private val keys = (0 to 7).map(i => s"k$i")

  private sealed trait Op
  /** Rows in order; a repeated key's LAST row wins. */
  private case class Append(rows: Seq[(String, String)]) extends Op
  private case class Delete(keys: Set[String]) extends Op
  /** One file per bucket, key-descending, not recorded sorted. */
  private case class Unsorted(rows: Map[String, Option[String]]) extends Op
  private case object Minor extends Op
  private case object Major extends Op

  private val genKey = Gen.oneOf(keys)
  private val genValue = Gen.alphaStr.map(_.take(3))

  private val genOp: Gen[Op] = Gen.frequency(
    5 -> Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, Gen.zip(genKey, genValue)))
      .map(Append),
    2 -> Gen.nonEmptyListOf(genKey).map(ks => Delete(ks.toSet)),
    1 -> Gen.nonEmptyListOf(Gen.zip(genKey, Gen.option(genValue)))
      .map(rs => Unsorted(rs.toMap)),
    2 -> Gen.const(Minor),
    1 -> Gen.const(Major))

  /** (version, key, value or tombstone) in write order: within a
    * version, the later entry wins. */
  private case class Model(log: Vector[(Long, String, Option[String])], lastVer: Long) {
    def snapshot(asOf: Long): Map[String, String] =
      winners(asOf).flatMap { case (k, (_, v)) => v.map(k -> _) }
    def live: Map[String, String] = snapshot(Long.MaxValue)
    private def winners(asOf: Long): Map[String, (Long, Option[String])] =
      log.zipWithIndex.filter(_._1._1 <= asOf).groupBy(_._1._2).map { case (k, es) =>
        val ((ver, _, v), _) = es.maxBy { case ((ver, _, _), i) => (ver, i) }
        k -> (ver, v)
      }
    def next(entries: Seq[(String, Option[String])]): Model =
      Model(log ++ entries.map { case (k, v) => (lastVer + 1, k, v) }, lastVer + 1)
    def apply(op: Op): Model = op match {
      case Append(rows) => next(rows.map { case (k, v) => (k, Some(v)) })
      case Delete(ks) => next(ks.toSeq.map(_ -> None))
      case Unsorted(rows) => next(rows.toSeq)
      case Minor => this
      case Major => // live winners keep their versions; history drops
        Model(winners(Long.MaxValue).collect { case (k, (ver, Some(v))) =>
          (ver, k, Some(v))
        }.toVector, lastVer)
    }
  }

  private def applyReal(path: String, op: Op, lastVer: Long): Unit = op match {
    case Append(rows) =>
      KvTable.write(rows.toDF("k", "v").coalesce(1), path, schema)
    case Delete(ks) => KvTable.delete(ks.toSeq.toDF("k"), path, schema)
    case Unsorted(rows) =>
      KvMergeFixtures.appendUnsorted(spark, path, schema, rows.toSeq, lastVer + 1)
    case Minor => KvTable.compactMinor(spark, path, smallFileBytes = Long.MaxValue)
    case Major => KvTable.compactBucketed(spark, path, KvTable.numBuckets(spark, path))
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Map[String, String] =
    df.as[(String, String)].collect().toMap

  property("bucketed histories agree with the model on every LWW surface") =
    Prop.forAll(Gen.choose(1, 4), Gen.listOfN(6, genOp)) { (buckets, ops) =>
      val path = TestSpark.scratch("prop-merge")
      KvTable.bulkLoad(Seq(("k0", "init")).toDF("k", "v"), path, schema, buckets)
      var m = Model(Vector((1L, "k0", Some("init"))), 1L)
      val stepsOk = ops.forall { op =>
        applyReal(path, op, m.lastVer)
        m = m.apply(op)
        rows(KvTable.readV2(spark, path)) == m.live
      }
      val readOk = rows(KvTable.read(spark, path)) == m.live
      val getOk = keys.forall { k =>
        KvTable.get(spark, path, k).as[(String, String)].collect().headOption
          .map(_._2) == m.live.get(k)
      }
      val asOfOk = (1L to m.lastVer).forall { v =>
        rows(KvTable.readAsOf(spark, path, v)) == m.snapshot(v) &&
          KvMergeFixtures.mergeAsOf(spark, path, v, Seq("k", "v"))
            .map(r => r.getString(0) -> r.getString(1)).toMap == m.snapshot(v)
      }
      KvTable.compactBucketed(spark, path, buckets)
      val compactOk = rows(KvTable.readV2(spark, path)) == m.live &&
        KvV2Util.mergeable(path, KvHadoopConf(spark))
      (stepsOk :| s"readV2 mismatch after an op of $ops") &&
        (readOk :| "read mismatch") && (getOk :| "get mismatch") &&
        (asOfOk :| "as-of mismatch") && (compactOk :| "compactBucketed mismatch")
    }
}
