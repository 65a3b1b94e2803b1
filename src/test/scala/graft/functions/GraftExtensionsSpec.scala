package graft.functions

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** SQL-surface registration of the native kernels via
  * SparkSessionExtensions.
  *
  * Extensions bind at session-build time, and getOrCreate returns any
  * active session as-is — so this spec clears the default/active
  * pointers, builds its own session (reusing the shared SparkContext),
  * and restores the previous default afterward.
  */
class GraftExtensionsSpec extends AnyFunSuite {

  private def withExtendedSession[A](f: SparkSession => A): A = {
    // the shared context must be the one SparkSpec builds (its conf
    // posture, and its `file://` binding: built first in the JVM)
    graft.SparkSpec.session
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      val s = SparkSession.builder()
        .master("local[2]")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      f(s)
    } finally {
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  test("native kernels are SQL-callable and match Column-API results") {
    withExtendedSession { spark =>
      val sql = spark.sql(
        """SELECT graft_dot(array(1.0F, 2.0F), array(3.0F, 4.0F)) AS d,
          |       graft_md5_48('hello world') AS h,
          |       graft_shingle_hash_48('a b c d', 3) AS sh,
          |       graft_minhash_sig(graft_shingle_hash_48('a b c d', 3), 2) AS sig
          |""".stripMargin).collect().head
      assert(sql.getDouble(0) == 11.0)
      assert(sql.getLong(1) ==
        java.lang.Long.parseLong("5eb63bbbe01e", 16)) // md5("hello world") prefix
      assert(sql.getSeq[Long](2).length == 2)        // shingles: "a b c", "b c d"
      assert(sql.getSeq[Long](3).length == 2)        // k = 2 signature
      val r5 = spark.sql(
        """SELECT graft_simhash('a b c d', 16) AS fp16,
          |       graft_simhash('a b c d', 64) AS fp64,
          |       graft_dot_int(array(3L, -2L), array(5L, 7L)) AS di
          |""".stripMargin).collect().head
      assert(r5.getLong(0) >= 0L && r5.getLong(0) < (1L << 16))
      assert(r5.getLong(1) != r5.getLong(0)) // wide fingerprint uses more bit sources
      assert(r5.getLong(2) == 1L)            // 15 - 14
      val q = spark.sql(
        "SELECT graft_quality_bps('the a b') AS q, " +
          "graft_quality_bps(CAST(NULL AS STRING)) AS qn").collect().head
      // 3 tokens: length credit 75; stop 2/3 caps at 5000
      assert(q.getLong(0) == 75L + 5000L)
      assert(q.isNullAt(1)) // null text scores null, never 10000
    }
  }

  test("graft_approx_distinct is SQL-callable as a grouped aggregate") {
    withExtendedSession { spark =>
      spark.range(3000).createOrReplaceTempView("ids")
      val r = spark.sql(
        """SELECT id % 3 AS g, graft_approx_distinct(id) AS est,
          |       graft_approx_distinct(id, 8) AS est_p8
          |FROM ids GROUP BY 1 ORDER BY g""".stripMargin).collect()
      assert(r.length == 3)
      r.foreach { row =>
        // 1000 distinct per group; default p=14 well under 5%, p=8 coarser
        assert(math.abs(row.getLong(1) - 1000) < 50, row.toString)
        assert(math.abs(row.getLong(2) - 1000) < 260, row.toString)
      }
    }
  }

  test("graft_freq_items is SQL-callable and honors the capacity argument") {
    withExtendedSession { spark =>
      spark.sql(
        "SELECT explode(array('x','x','x','y','y','z')) AS v")
        .createOrReplaceTempView("freq_src")
      val rows = spark.sql(
        """SELECT e.item, e.count_lo
          |FROM (SELECT explode(graft_freq_items(v, 8)) AS e FROM freq_src)
          |ORDER BY e.count_lo DESC, e.item""".stripMargin).collect()
      // capacity 8 > distinct values: counts are exact
      assert(rows.map(r => (r.getString(0), r.getLong(1))).toSeq ==
        Seq(("x", 3L), ("y", 2L), ("z", 1L)))
    }
  }

  test("graft_approx_quantiles is SQL-callable with an array-literal probs arg") {
    withExtendedSession { spark =>
      spark.range(100).createOrReplaceTempView("q_src")
      val qs = spark.sql(
        "SELECT graft_approx_quantiles(id, array(0.5, 1.0)) FROM q_src")
        .collect().head.getSeq[Double](0)
      // unit-bucket regime: exact nearest-rank quantiles of 0..99
      assert(qs == Seq(49.0, 99.0))
    }
  }

  test("graft_cms / graft_cms_estimate are SQL-callable end to end") {
    withExtendedSession { spark =>
      spark.sql("SELECT explode(array('x','x','x','y','y','z')) AS v")
        .createOrReplaceTempView("cms_src")
      val r = spark.sql(
        """SELECT graft_cms_estimate(sk, 'x') AS ex,
          |       graft_cms_estimate(sk, 'z') AS ez,
          |       graft_cms_estimate(sk, 'absent') AS ea
          |FROM (SELECT graft_cms(v, 4, 64) AS sk FROM cms_src)""".stripMargin)
        .collect().head
      // 6 rows, width 64: collisions possible but never undercounts;
      // with 3 distinct items the estimates are exact in practice
      assert(r.getLong(0) >= 3L && r.getLong(0) <= 6L, r.toString)
      assert(r.getLong(1) >= 1L && r.getLong(1) <= 6L, r.toString)
      assert(r.getLong(2) <= 6L, r.toString)
    }
  }

  test("graft_approx_quantiles rejects a non-BIGINT column at analysis time") {
    withExtendedSession { spark =>
      spark.range(10).selectExpr("cast(id as int) AS i", "cast(id as string) AS s")
        .createOrReplaceTempView("q_bad_src")
      // regression: used to fail at EXECUTION time with an opaque
      // ClassCastException from asInstanceOf[Long]
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql("SELECT graft_approx_quantiles(s, array(0.5)) FROM q_bad_src")
          .collect()
      }
      assert(e.getMessage.toLowerCase.contains("type"))
      // strict like ZOrder2/ZOrder3: INT needs an explicit widening cast
      intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql("SELECT graft_approx_quantiles(i, array(0.5)) FROM q_bad_src")
          .collect()
      }
      val qs = spark.sql(
        "SELECT graft_approx_quantiles(cast(i AS bigint), array(1.0)) FROM q_bad_src")
        .collect().head.getSeq[Double](0)
      assert(qs == Seq(9.0))
    }
  }
}
