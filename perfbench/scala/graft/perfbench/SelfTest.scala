package graft.perfbench

/** Checks of the seeded generators, run by `perfbench/test_perfbench.py`
  * through `Main --selftest`: the same seed gives the same inputs, in
  * this JVM and against values recorded from an earlier one. */
object SelfTest {
  def run(): Boolean = {
    val checks = Seq[(String, Boolean)](
      "payload is a pure function of (seed, id)" ->
        (Gen.payload(1, 42) == Gen.payload(1, 42)),
      "payload has the reference's 20 characters" ->
        (1L to 100L).forall(i => Gen.payload(3, i).length == 20),
      "payload matches the recorded value" -> (Gen.payload(1, 1) == "vhppsozcwslvfxberjna"),
      "payload depends on the seed" -> (Gen.payload(1, 1) != Gen.payload(2, 1)),
      "vectors repeat for one seed" ->
        (Gen.vectors(5, 3, 100, 10, 64) == Gen.vectors(5, 3, 100, 10, 64)),
      "vectors differ across batches" ->
        (Gen.vectors(5, 3, 100, 10, 64).map(_._2) != Gen.vectors(5, 4, 100, 10, 64).map(_._2)),
      "vectors keep their ids and width" ->
        (Gen.vectors(5, 3, 100, 10, 64).map(_._1) == (100L until 110L) &&
          Gen.vectors(5, 3, 100, 10, 64).forall(_._2.size == 64)),
      "shuffle repeats for one seed" -> (Gen.shuffle(1 to 50, 4) == Gen.shuffle(1 to 50, 4)),
      "shuffle varies with the seed" ->
        ((1L to 5L).map(s => Gen.shuffle(1 to 50, s)).distinct.size == 5),
      "shuffle is a permutation" ->
        (Gen.shuffle(1 to 50, 4).sorted == (1 to 50)))
    checks.foreach { case (n, ok) => println(s"${if (ok) "ok  " else "FAIL"} $n") }
    checks.forall(_._2)
  }
}
