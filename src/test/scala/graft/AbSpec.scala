package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Ab

class AbSpec extends AnyFunSuite {

  test("an arm is a bare name or a name with k=v session confs") {
    assert(Ab.parseArm("group") == Ab.Arm("group", Nil))
    assert(Ab.parseArm("join:spark.graft.minhash.candPath=join,a.b=x=y") ==
      Ab.Arm("join", Seq("spark.graft.minhash.candPath" -> "join",
        "a.b" -> "x=y")))
    val e = intercept[IllegalArgumentException](Ab.parseArm("bad:k"))
    assert(e.getMessage.contains("bad"), e.getMessage)
  }
}
