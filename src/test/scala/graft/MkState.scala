package graft

import java.nio.file.Files
import graft.fpl.{Fixture, ServingTables}

/** Fixture serving tables for `RequestApp`:
  *   sbt "Test/runMain graft.MkState <outDir>" */
object MkState {
  def main(args: Array[String]): Unit = {
    val in = Files.createTempDirectory("mkstate")
    def put(name: String, text: String): String =
      Files.writeString(in.resolve(name), text).toString
    ServingTables.main(Array(
      put("season.jsonl", Fixture.allLines.mkString("\n")),
      put("players.csv", Fixture.playersCsv),
      put("teams.csv", Fixture.teamsCsv), args(0)))
  }
}
