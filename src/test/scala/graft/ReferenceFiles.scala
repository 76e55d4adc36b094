package graft

import graft.sources.Tables
import java.nio.file.{Files, Paths}
import java.util.Arrays.asList

/** Generated stand-ins for the reference's own data files (FIXTURES.md §1
  * and §2), written once per test JVM into one temp directory under the
  * reference's file names:
  *  - `Traffic_Signs_1000.csv`: a copy of the committed fixture
  *    ([[Tables.trafficSignsFixture]]), a Traffic_Signs-shaped headerless
  *    CSV of 11 rows, 19 columns, its first row
  *    `Traffic_Signs_1000.csv:1`. It has quoted fields with embedded
  *    commas and doubled quotes, a backslash before a
  *    closing quote (literal under RFC-4180; a `\`-escaping reader runs the
  *    field on to the end of the line), blank fields (never `Size_`:
  *    SinksSpec sorts its parsed values, which must be non-null), and rows
  *    that do and do not match `Category=Warning` and
  *    `Sign_Post=Punched Telespar`;
  *  - `business_1.txt` … `business_3.txt`: short business articles with
  *    blank lines between paragraphs; some lines mention profit, euros or
  *    Lufthansa (in varying case), others none of them. */
object ReferenceFiles {

  lazy val dir: String = {
    val d = Files.createTempDirectory("reference_files")
    Files.copy(Paths.get(Tables.trafficSignsFixture), d.resolve("Traffic_Signs_1000.csv"))
    Files.write(d.resolve("business_1.txt"), asList(
      "Lufthansa flies back to profit",
      "",
      "The airline reported an operating profit of 400 million euros for the year.",
      "Costs fell as the carrier trimmed routes and renegotiated fuel contracts.",
      "Revenue rose to 17 billion euros, up from 16 billion euros a year earlier.",
      "",
      "Analysts said lufthansa still faces strong competition from low-cost rivals.",
      "Shares closed higher in Frankfurt."))
    Files.write(d.resolve("business_2.txt"), asList(
      "Retailer warns on Christmas sales",
      "",
      "The chain said PROFIT for the full year would fall short of forecasts.",
      "Sales in its stores were flat, while online orders grew.",
      "Its chief executive said the outlook remained uncertain."))
    Files.write(d.resolve("business_3.txt"), asList(
      "Steelmaker lifts dividend",
      "",
      "Quarterly Profits doubled on strong demand from carmakers.",
      "The board proposed a dividend of 1.20 Euros per share.",
      "Output at its main plant was unchanged."))
    d.toString
  }

  def trafficSignsCsv: String = s"$dir/Traffic_Signs_1000.csv"
}
