package graft.write

import org.scalatest.funsuite.AnyFunSuite

/** Golden statement matrix for the JDBC sink's dialect branches: every
  * DDL template in [[JdbcCapabilities.forUrl]], compared against
  * handwritten expected SQL — catches template regressions for engines
  * this environment cannot run (only Derby executes live, in
  * SourcesSpec). */
class JdbcDialectSpec extends AnyFunSuite {

  private def capsOf(scheme: String) =
    JdbcCapabilities.forUrl(s"jdbc:$scheme://host/db")

  // a pre-quoted table name, as evolveSchema hands it to addColumnSql
  private def qd(c: JdbcCapabilities) = s"${c.quoteChar}dim${c.quoteChar}"

  test("capability inference per engine") {
    assert(capsOf("postgresql").maxIdentifierLength === 63)
    assert(capsOf("mysql").quoteChar === '`')
    assert(capsOf("mysql").maxIdentifierLength === 64)
    assert(capsOf("oracle").casefold("abc") === "ABC")
    assert(capsOf("db2").casefold("abc") === "ABC")
    assert(capsOf("sqlserver").casefold("abc") === "abc")
    assert(JdbcCapabilities.forUrl("jdbc:derby:memory:x").casefold("abc") === "ABC")
    // unknown engines take the most conservative cap, quoted ANSI
    assert(capsOf("exoticdb").maxIdentifierLength === 63)
  }

  test("addColumn per dialect") {
    val pg = capsOf("postgresql")
    assert(pg.addColumnSql(qd(pg), "\"score\" BIGINT") ===
      """ALTER TABLE "dim" ADD COLUMN "score" BIGINT""")
    val my = capsOf("mysql")
    assert(my.addColumnSql(qd(my), "`score` BIGINT") ===
      "ALTER TABLE `dim` ADD COLUMN `score` BIGINT")
    val ora = capsOf("oracle")
    assert(ora.addColumnSql(qd(ora), "\"score\" NUMBER(19)") ===
      """ALTER TABLE "dim" ADD ("score" NUMBER(19))""")
    val ms = capsOf("sqlserver")
    assert(ms.addColumnSql(qd(ms), "\"score\" BIGINT") ===
      """ALTER TABLE "dim" ADD "score" BIGINT""")
  }
}
