package graft

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.scalatest.{BeforeAndAfterAll, Outcome, TestSuite, TestSuiteMixin}

import graft.sources.deleteTree

/** Temp directories that a suite never leaves behind: a directory that
  * [[tempDir]] makes while a test runs is deleted when that test ends, and
  * one made outside a test (a suite-level `val`) when the suite ends. */
trait TempDirs extends TestSuiteMixin with BeforeAndAfterAll { this: TestSuite =>

  private val made = ArrayBuffer.empty[Path]

  // a suite-level directory exists even when a filter selects no test
  override val invokeBeforeAllAndAfterAllEvenIfNoTestsAreExpected = true

  def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    made.synchronized(made += d)
    d
  }

  /** Deletes the directories made from index `from` on. */
  private def deleteFrom(from: Int): Unit = made.synchronized {
    made.drop(from).foreach(deleteTree)
    made.dropRightInPlace(made.size - from)
  }

  abstract override def withFixture(test: NoArgTest): Outcome = {
    val before = made.synchronized(made.size)
    try super.withFixture(test) finally deleteFrom(before)
  }

  override def afterAll(): Unit =
    try deleteFrom(0) finally super.afterAll()
}
