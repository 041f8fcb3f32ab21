package graft

import graft.log.{AppendRecord, CommitMode, DiscriminatorPolicy, EventDetail, EventLog}
import graft.store.EventStore
import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Mirrors the reference's discriminator governance: the DiscriminatorMerge
  * pipeline (store/store.go:195-228; options store/postgresql/store.go:74-96)
  * and the tenant-scoped listener scenario TestListenerWithDiscriminator
  * (test/pg/store_test.go:286-369).
  */
class DiscriminatorSpec extends AnyFunSuite {
  private def spark = SparkTestSession.spark

  private def freshLog(policy: DiscriminatorPolicy): EventLog =
    new EventLog(spark, Files.createTempDirectory("graftdisc").toFile.getAbsolutePath,
      numBuckets = 4, ulidSeed = Some(9L), discriminatorPolicy = Some(policy))

  test("TestListenerWithDiscriminator: declared keys only; poll scoped to tenant folds 135") {
    val log = freshLog(DiscriminatorPolicy(allowedKeys = Set("tenant")))
    val store = new EventStore(log, AccountType)
    val idAbc = "01HXDISCABC000000000000001"
    val idXyz = "01HXDISCXYZ000000000000002"
    // tenant abc: create 50 + deposit 20; an undeclared key must be dropped
    store.create(idAbc, Seq(AccountType.created(50, "Paulo"), AccountType.deposited(20)),
      callDiscriminator = Map("tenant" -> "abc", "rogue" -> "1"))
    // tenant xyz: create 100 + deposits 10/20, then an update depositing 5
    store.create(idXyz, Seq(AccountType.created(100, "Pereira"),
      AccountType.deposited(10), AccountType.deposited(20)),
      callDiscriminator = Map("tenant" -> "xyz"))
    store.update(idXyz)(_ => Seq(AccountType.deposited(5)),
      callDiscriminator = Map("tenant" -> "xyz"))

    // the allow-list filtered the undeclared key out of storage
    assert(log.activeEvents
      .filter(element_at(col("discriminator"), "rogue").isNotNull).count() == 0)
    // every stored row carries its tenant
    assert(log.activeEvents
      .filter(element_at(col("discriminator"), "tenant").isNull).count() == 0)

    // a poller scoped to tenant xyz sees exactly 4 events (the reference's
    // counter == 4) and folding them rebuilds balance 135
    val xyz = log.withDiscriminator(log.outboxBatch("", limit = 100),
      Map("tenant" -> "xyz")).orderBy(col("id")).collect()
    assert(xyz.length == 4)
    var acc = AccountType.empty
    xyz.foreach(r =>
      acc = AccountType.fold(acc, r.getAs[String]("kind"), r.getAs[String]("body")))
    assert(acc == Account("OPEN", 135, "Pereira"))
    // the abc tenant's view is disjoint
    assert(log.withDiscriminator(log.activeEvents, Map("tenant" -> "abc")).count() == 2)
  }

  test("no declared keys stores NO discriminator (reference filterOut)") {
    val log = freshLog(DiscriminatorPolicy(root = Map("tenant" -> "root-t")))
    val store = new EventStore(log, AccountType)
    store.create("01HXDISCEMPTY0000000000003", Seq(AccountType.created(10, "o")),
      callDiscriminator = Map("tenant" -> "abc"))
    assert(log.activeEvents.filter(size(col("discriminator")) > 0).count() == 0)
  }

  test("merge precedence: hook sees call disc and kind, call/hook wins over root") {
    val policy = DiscriminatorPolicy(
      allowedKeys = Set("tenant", "region"),
      root = Map("tenant" -> "root-t", "region" -> "eu"),
      hook = Some((call, kind) =>
        if (call.isEmpty) Map("tenant" -> s"hook-$kind") else call))
    // pure-merge unit behavior, both hook kinds
    assert(policy.merge(Map.empty, DiscriminatorPolicy.OnPersist) ==
      Map("tenant" -> "hook-persist", "region" -> "eu"))
    assert(policy.merge(Map.empty, DiscriminatorPolicy.OnRetrieve) ==
      Map("tenant" -> "hook-retrieve", "region" -> "eu"))
    assert(policy.merge(Map("tenant" -> "call-t", "bad" -> "x"), DiscriminatorPolicy.OnPersist) ==
      Map("tenant" -> "call-t", "region" -> "eu"))

    // end to end: empty call disc → hook mints the tenant, root fills region
    val log = freshLog(policy)
    val store = new EventStore(log, AccountType)
    store.create("01HXDISCHOOK00000000000004", Seq(AccountType.created(10, "o")))
    val d = log.activeEvents.select(col("discriminator")).head()
      .getAs[Map[String, String]]("discriminator")
    assert(d == Map("tenant" -> "hook-persist", "region" -> "eu"))
  }

  test("a declared key with upper-case letters is kept by every append path") {
    val s = spark
    import s.implicits._
    Seq(CommitMode.Lock, CommitMode.Manifest).foreach { mode =>
      val dir = Files.createTempDirectory("graftdisccase").toFile.getAbsolutePath
      val log = new EventLog(spark, dir, numBuckets = 4, discriminatorKeys = Set("Tenant"),
        ulidSeed = Some(10L), commitMode = mode)
      val disc = Map("Tenant" -> "acme", "rogue" -> "1")
      log.append(Seq(AppendRecord("dc-append", "Account", 0, disc,
        Seq(EventDetail("Created", "{}")))))
      def batch(id: String) = Seq((id, "Account", "Created", "{}", 1, disc))
        .toDF("aggregate_id", "aggregate_kind", "kind", "body", "seq", "discriminator")
      assert(log.bulkImport(batch("dc-import")) === 1L)
      assert(log.appendBulk(batch("dc-bulk")) === 1L)
      val stored = log.activeEvents.select("aggregate_id", "discriminator", "disc_Tenant")
        .collect().map(r => r.getString(0) -> (r.getMap[String, String](1).toMap, r.getString(2)))
        .toMap
      Seq("dc-append", "dc-import", "dc-bulk").foreach { id =>
        assert(stored(id) === (Map("Tenant" -> "acme") -> "acme"),
          s"$mode $id: the declared key must survive the persist filter, the undeclared one not")
      }
    }
  }
}
