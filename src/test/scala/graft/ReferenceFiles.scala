package graft

import java.nio.file.Files
import java.util.Arrays.asList

/** Generated stand-ins for the reference's own data files (FIXTURES.md §1
  * and §2), written once per test JVM into one temp directory under the
  * reference's file names:
  *  - `Traffic_Signs_1000.csv`: a Traffic_Signs-shaped headerless CSV, 19
  *    columns, its first row `Traffic_Signs_1000.csv:1`. It has quoted
  *    fields with embedded commas and doubled quotes, a backslash before a
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
    Files.write(d.resolve("Traffic_Signs_1000.csv"), asList(
      "-9822752.01226842,4887653.93470103,1,Streetname - Mast Arm,\"16\"\" X 42\"\"\", ,Traffic Signal Mast Arm, ,Streetname, ,D3-1,Champaign,1,,AERIAL,L,Mercury Dr,1.0,",
      "-9822700.50000000,4887600.25000000,2,\"Curve, Left\",30 X 30,,Punched Telespar,2004,Warning,\"Faded \"\"CURVE\"\", replace\",W1-2L,Champaign,2,,GPS,M,,2.0,2019/05/01",
      "-9822600.10000000,4887500.90000000,3,Deer Crossing,30 X 30,,, ,Warning,,W11-3,Champaign,3,,,,,,",
      "-9822550.00000000,4887450.00000000,4,Stop,\"30\"\" X 30\"\"\",,Punched Telespar,1999,Regulatory,\"Near Warning sign, see 5\",R1-1,Champaign,4,Yes,GPS,H,STOP,4.0,",
      "-9822500.75000000,4887400.50000000,5,\"School, Ahead\",\"16\"\" X 42\"\"\",,Square Post,2010,Warning,,S1-1,Urbana,5,Yes,AERIAL,L,\"SCHOOL, AHEAD\",5.0,2020/01/01",
      "-9822450.00000000,4887350.00000000,6,Speed Limit 30,24 X 30,,Punched Telespar,2012,Regulatory,,R2-1,Champaign,6,,GPS,M,SPEED LIMIT 30,6.0,",
      "-9822400.00000000,4887300.00000000,7,Pedestrian Crossing,\"36\"\" X 36\"\"\",W16-7P,Punched Telespar,2015,Warning,,W11-2,Champaign,7,,GPS,H,,7.0,2021/06/30",
      "-9822350.00000000,4887250.00000000,8,No Parking,12 X 18,,Sign Post,,Parking,,R7-1,Champaign,8,,,,NO PARKING,8.0,",
      "-9822300.00000000,4887200.00000000,9,\"Merge, Right\",36 X 36,,Square Post,2008,Warning,\"\"\"Merge\"\" faded\",W4-1,Urbana,9,,AERIAL,L,,9.0,",
      "-9822250.00000000,4887150.00000000,10,One Way,36 X 12,,Traffic Signal Mast Arm,2001,Regulatory,,R6-1,Champaign,10,,GPS,M,ONE WAY,10.0,",
      "-9822200.00000000,4887100.00000000,11,\"Bike Lane \\\",24 X 30,,Square Post,2016,Warning,,R3-17,Urbana,11,,GPS,L,,11.0,"))
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
