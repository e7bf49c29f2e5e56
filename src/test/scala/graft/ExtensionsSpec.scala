package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Literal

import graft.functions.GraftFunctions

/** Proves the `spark.sql.extensions=graft.GraftExtensions` installation
  * path: a session built with only that conf resolves every native
  * function in SQL with no `GraftFunctions.register` call — the
  * cluster-wide deployment mode (spark-submit / Connect / Thrift) — and
  * that the per-session `register` path is idempotent. */
class ExtensionsSpec extends SparkSpec {

  test("a session built with graft.GraftExtensions resolves all native functions") {
    spark // force the shared session (and its SparkContext) to exist first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // Load the injector exactly the way Spark's conf loader does — by
      // class name, through the zero-arg constructor, typed as
      // SparkSessionExtensions => Unit — then inject through the public
      // builder hook. (The conf-string route itself needs a fresh
      // SparkContext, which a shared-context test JVM can't make.)
      val injector = Class.forName("graft.GraftExtensions")
        .getDeclaredConstructor().newInstance()
        .asInstanceOf[org.apache.spark.sql.SparkSessionExtensions => Unit]
      val s2 = SparkSession.builder()
        .master("local[2]")
        .appName("graft-ext")
        .withExtensions(injector)
        .getOrCreate()
      assert(s2 ne spark, "builder returned the old session — conf not applied")
      val r = s2.sql(
        """SELECT graft_fingerprint('abc') AS f,
                  cosine_sim(array(1.0F, 0.0F), array(1.0F, 0.0F)) AS c,
                  graft_checksum997('abc') AS k,
                  size(graft_ngrams('abcd', 3)) AS ng,
                  size(graft_token_shingles('a b c', 2)) AS ts,
                  graft_simhash60('a b') AS sh,
                  size(graft_minhash_sig('a b c d e')) AS ms,
                  size(graft_winnow('abcdefghijkl', 8, 4)) AS wn,
                  size(graft_hp_buckets(array(1.0F, 0.0F), 2, 4, 2)) AS hb
        """).head()
      // Same values the register() path produces (oracle-pinned elsewhere):
      val viaRegister = {
        graft.functions.GraftFunctions.register(spark)
        spark.sql("SELECT graft_fingerprint('abc') AS f").head().getLong(0)
      }
      assert(r.getLong(0) == viaRegister)
      assert(r.getDouble(1) == 1.0)
      assert(r.getInt(3) == 2 && r.getInt(4) == 2)
      assert(r.getInt(6) == 32 && r.getInt(8) == 2)
    } finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("a second GraftFunctions.register writes nothing to the registry") {
    val reg = spark.sessionState.functionRegistry
    def infos() = GraftFunctions.builders.map { case (n, _) =>
      reg.lookupFunction(FunctionIdentifier(n)).get }
    GraftFunctions.register(spark)
    val first = infos()
    GraftFunctions.register(spark)
    // Every write stores a fresh ExpressionInfo, so identity shows none.
    first.zip(infos()).foreach { case (a, b) => assert(a eq b, a.getName) }
    // A name taken by another builder is restored to graft's own.
    GraftFunctions.registerCapturing(spark, "graft_zvalue", _ => Literal(0L))
    GraftFunctions.register(spark)
    assert(reg.lookupFunctionBuilder(FunctionIdentifier("graft_zvalue")) ===
      GraftFunctions.builders.collectFirst { case ("graft_zvalue", b) => b })
  }
}
