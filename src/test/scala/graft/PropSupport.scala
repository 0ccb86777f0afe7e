package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Minimal ScalaCheck-in-ScalaTest bridge (the scalatestplus artifact is not
  * in the offline cache). `forAll` runs 100 cases and throws on failure.
  */
trait PropSupport {
  private val params = SCTest.Parameters.default.withMinSuccessfulTests(100)

  private def run(p: Prop): Unit = {
    val res = SCTest.check(params, p)
    if (!res.passed) throw new AssertionError(s"property failed: ${res.status}")
  }

  def forAll[A](ga: Gen[A])(f: A => Unit): Unit =
    run(Prop.forAll(ga) { a => f(a); true })

  /** `f` over `n` cases from a fixed seed, without shrinking: for
    * properties whose cases are costly, and whose coverage is checked.
    */
  def forAllSeeded[A](n: Int)(ga: Gen[A])(f: A => Unit): Unit = {
    val res = SCTest.check(params.withMinSuccessfulTests(n)
      .withInitialSeed(org.scalacheck.rng.Seed(20261020L)), Prop.forAllNoShrink(ga) { a => f(a); true })
    if (!res.passed) throw new AssertionError(s"property failed: ${res.status}")
  }

  def forAll[A, B](ga: Gen[A], gb: Gen[B])(f: (A, B) => Unit): Unit =
    run(Prop.forAll(ga, gb) { (a, b) => f(a, b); true })

  def forAll[A, B, C](ga: Gen[A], gb: Gen[B], gc: Gen[C])(f: (A, B, C) => Unit): Unit =
    run(Prop.forAll(ga, gb, gc) { (a, b, c) => f(a, b, c); true })
}
