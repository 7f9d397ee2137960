package graft.gen

import graft.ddl.DdlParser
import org.scalatest.funsuite.AnyFunSuite

/** GeneratePipeline.run isolates failures per table; the recorded reason
  * must survive an exception that carries no message. */
class GeneratePipelineSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.session

  private val oneTable = DdlParser.parse(
    """CREATE TABLE [dbo].[Ulke](
      |  [Id] [int] NOT NULL,
      |  [Ad] [nvarchar](50) NULL,
      | CONSTRAINT [PK_Ulke] PRIMARY KEY CLUSTERED
      |(
      |  [Id] ASC
      |)WITH (PAD_INDEX = OFF) ON [PRIMARY]
      |) ON [PRIMARY]
      |GO
      |""".stripMargin)

  test("a sink failure without a message records the exception class") {
    val Seq(r) = GeneratePipeline.run(spark, oneTable, rowCount = 5, seed = 42,
      (_, _) => throw new IllegalStateException())
    assert(r.table == "Ulke" && !r.ok && r.rows == 0)
    assert(r.error.exists(_.contains("IllegalStateException")), r.error)
  }
}
