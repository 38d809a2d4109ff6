package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.multimodal.Multimodal

/** Brotli (RFC 7932) decoder + encoder contract.
  *
  * The decode fixtures below were produced by an INDEPENDENT
  * real-world brotli encoder at quality levels 1/5/9/11 over four
  * content classes (repetitive English with heavy static-dictionary
  * use, JSON with UTF8 context modeling + NPOSTFIX/NDIRECT distance
  * parameterization, multi-script UTF-8 text, incompressible binary
  * that round-trips through uncompressed meta-blocks); each must
  * decode byte-exact against the regenerated source bytes. The
  * crafted-stream tests pin behaviors extracted from the same
  * reference implementation during development: the static-dictionary
  * addressing rule at pos < window, the word-transform pipeline, and
  * the short-distance-code ring-buffer arithmetic. This repo's
  * encoder output was additionally verified byte-exact by that
  * reference decoder (compressed and uncompressed forms) — the specs
  * here re-check round-trips through our own decoder.
  */
class BrotliSpec extends AnyFunSuite {
  private def b64(s: String): Array[Byte] =
    java.util.Base64.getDecoder.decode(s)

  private val fix_a_q1 =
    "i8EBAICqqqrq/3Tlw0mP920XXXbYgHtwCzccCAeU4WDMGWKdTqMtLyNEp1Ng6CKsXAdo" +
    "645Enfh/UGSZ8RsOAw=="

  private val fix_a_q5 =
    "G4MDAETzpGntMBl34hB5Ksefo0hUYFpXZibBM8IpT0PgRV61D3CLgkzEYv+DZzQIAA=="

  private val fix_a_q11 =
    "G4MDiIyUbuYi0IOlupBeExSNgHxDC4MNOHBIIG8kvkGnFc5mx+NEhaVgI5yI1R8mBQY="

  private val fix_json_q9 =
    "G1AeAMTyR19T/utZ8qq7rh5lCYKwCMQRT4DH/uJ5wV5UT47il84UulahCtxcSkI7y1p6" +
    "fm48xmFY/yyoBv//r/99/vr5+X5fn39+//vPz/fn579//Hifr8+j+e/z/f7/msog/v1F" +
    "Vx7MPygv9zgpE/xNVldH2fBvc3o6ykV/zNevowW3uMMxd9snaIEOPy/QAV6gwy8LdEAW" +
    "6PDrAh3QBTr8boEOOBnOg9d6GX0MuCn+sowxTsvo44Fl9NFhGX08sIw+OiyjjweW0UcH" +
    "WW7D4GVzO8hyH5DldpDlPiDL7SDLfUCW20GW+4Ast4OQjBGSHCEZIyQ5QjJGSHKEZIyQ" +
    "5AjJGCHJEVExIoojomJEFEdExYgojoiKEVEcERUjojhiOlZMc8V0rJjmiulYMc0V07Fi" +
    "miumY8U0V8LEShiuhImVMFwJEythuBImVsJwJUyshOFK2aCUJaVsUMqSUjYoZUkpG5Sy" +
    "pJQNSllSjheU45FyvKAcj5TjBeV4pBwvKMcj5XhBOR75geeNJ/SB542H+sDzxhP6wPPG" +
    "Q33geeMJfeB546E+8LzxhD7wvPFQH3jeeEIfeN54qBW/udXpqiiuiiZXxZCroslVMeSq" +
    "aHJVDLkqmlwVXTYYEN5gAL3BgPAGA+gNBoQ3GEBvMCC8wQB6gwHhDQbQGwzoHjUklDNt" +
    "yjNp7lba4W6lbelW2pFupW3tVtrRbqVt16205RsxkoiRTDGSiJFMMZKIkUwxkoiRTDGS" +
    "iJFMMQ11jt5KKss01JFpqJJpqCPTUCXTUEemoUqmoY5MQ5XMNGqmU800aqZTzTRqplPN" +
    "NGqmU800aqZTLSOdo7dSyrKMdGQZqWQZ6cgyUsky0pFlpJJlpCPLSCUri7Oy6awszsqm" +
    "s7I4K5vOyuKsbDori7Oy6ezGdY7eSleW3biO7MZVshvXkd24SnbjOrIbV8luXEd24/rT" +
    "378B"

  private val fix_json_q11 =
    "G1AeICyOdxjuRlrRiVLCfhmCwaXO1pvTFqj862UpwEGr9bIiSyuWrhRpGeOf5y/+x8k/" +
    "qutsmjeKQdgTSeCOha8Qi7BtXBgG+Ty+mPxHf2J+rPofn28+38v8Yv6VNsTP33c24Q/Y" +
    "UseibfzF/Xhwh3xpl6K97Jf3cfhPTD4wOWoBcU4QTkLIhPE0Hs9GyGyUurHsXBzHvXIu" +
    "nDfmBhbOCcpBSImwHsbzyYgZRa2KdcdxHn7VXDWHwMIpKCchZcJ6Gs9nI2Y2at1Ydy7O" +
    "4149F8+bI7BwCspBSImwHsbzyYgZRa2KdcdxHn59c31zCCycgnISUiasp/F8NmJmo9aN" +
    "defiPO41c8m8NQILp6AchJQI62E8n4yYUdSqWHcc5+HXzrVzCCycgnISUiasp/F8NmJm" +
    "o9aNdefiPO5157Lz9ggsnIJyEFIirIfxfDJiRlGrYt1xnIdfb643h8DCKSgnIWXCehrP" +
    "ZyNmNmrdWHcuzuP+ivlVPfLbNAsLj5VFCUpqoaxhPd9ixaCqXap1cZ2nbzBXzKmw8FCU" +
    "pKRWyprW861WDFu1a2tdrs7zbjgXzkdGYeGhKEFJLZQ1rOdbrBhUtUu1Lq7z9I3mqjkV" +
    "Fh6KkpTUSlnTer7VimGrdm2ty9V53o3n4vnoKCw8FCUoqYWyhvV8ixWDqnap1sV1nr55" +
    "c31zKiw8FCUpqZWypvV8qxXDVu3aWper87ybzCXzsaOw8FCUoKQWyhrW8y1WDKrapVoX" +
    "13n6pnPtnAoLD0VJSmqlrGk932rFsFW7ttbl6jzvZuey83GjsPBQlKCkFsoa1vMtVgyq" +
    "2qVaF9d5+ubmenMqLDwUJSmplbKm9XyrFcNW7dpal6vzvt33"

  private val fix_utf8_q9 =
    "G9cJABypUV/M7kCVIx3rsux4ECnhkzMGHOnKEwworZsLucoWzCaTzSIIct6OcNiAE/HA" +
    "sGghGjbgJAqoZcpuudbMqnioM+18nL/OUXHhGwaJjsWnAgAuQQI="

  private val fix_rnd_q5 =
    "i/+H3AT1efgoGguH7KU7npo5677PhgdANZzZwCKYdare7BtDr0CTithy1s/M0miVXKA3" +
    "bMpwJY6H7j+H2BvqPQJbtKTpeufSXOWMgYWp625k8lt4I8x0AAXQ5Q8S/8AueGkVW9Mk" +
    "Yj+1CZMxIgP0pjAL/lkRJUeswqqntw9Vuomk0MMDeu6JUbDsQ5KiDrCCLW9mMoYarVG9" +
    "Zu8kRWSPIwTq7mTAlM+N7u5e/EpiITNqjODP8Hysc7cL08keHUf2fsZyfOmbMkTFZ0Tb" +
    "P4d/lQxrLrNtVJF1ohP85BwxZvT0vSTb1VLIq5hVQZkgpfCFYjf+4UNfwUaQ2Mi7T0B5" +
    "XttGPghzNV7u3LzlUyQ2TwOxBermXUj70oD6vpf02tDdBCizRyeW4+pVBzDB4wyBUk8I" +
    "za57xNnKZ0ClOk65jhOI3xAGeVKiy/W6GaWJaHsDbCjwSqEXpuT/YCyco9hvoTfFUU/3" +
    "9kNprWfilsWMI31twzyESRZp80TcMu2qsGF+P/Wyu6KJECOD/vUjp+K9LnfI8gQzC+nr" +
    "Oj0QeLHs9Z/Mns6GDQOA4WViUkuHcFce+akaPk68HDF5W00n7DUwZN4qrjS3RSp852Q1" +
    "723Dd335YHLx8t5TaLuInMm4wzW1A9B6XJmA4lg1ajG/ODv4bQQzC1axkFWXTPRNAHHZ" +
    "Ar1Xjj9wwEBKOZB6Gd64ziHXVfsKTQc0kMi6BWf+6nISDgTgNMhN9TlfkiFFDKP9u77d" +
    "USgjs89Vp/PFjUd0Pc696deWHCWa+vVyNXG2w6OLIZbIkpemX4nP0IJ3EdxwRXtOeMYd" +
    "K6M9LlPXZQMItu+Tg0BfalqRU5/v4yTnSFn7WTEin9/bWQSrmrn+6wH2Fd+u1j6KtC0T" +
    "ge7A1P64K5WUyPhHUchSEXZwJgbcxaOCpl8c19nW7q4xU4fXdHEbc0GyAhXja1MnSiwW" +
    "Ogjy5zhRnMTtCF+renmvM0Za8MaWGjLH4qNONrJhS8+KfI6RCeeyuKfqdLguy8BPLwKy" +
    "GFE/7sn4nIEEtUxOZiNxjs5leu6eFo1f1mAiWPuoJdHpMAmTMSIDzVkqEoTDkzW79qz3" +
    "6y8njZIU7sP2L9MvHjy8aDF9s9z+oPVYe6TXsBzUyhLv84ORh0UrrYLWhNP8IgjGn2wH" +
    "4IzaBbGfYRy+ptas7NyqhQy3k9d4mRo5q8FK6PuyckvWHnr2QNuOFQ4sp+iA5RZ4B9G6" +
    "sqRq8glPSPpYPrtzxIUUbbDJar34fzbC1ip94aGJiORHN57Wh29dHD1ZT7el06o8vlwE" +
    "AvM5zRk4iPF5SBg47S6LpgxZuy2HzJV8sfVZ2z3ZzAIg8vCJJrQNcLCk2HqNWBfo/hGe" +
    "DQw9N4PHb6hL/eXCwqEsgBULnhypdavRvsfQ6k5EefvmXqi7lqkcuS3cgo+goI6H7j+H" +
    "2K/9mQwpRMYOvfxtFGTL4IlPIs5drAMhlZTIZA07khPLzP+S1DI1BTjZoBLahwX+b62q" +
    "zIT9/bs3zHTFeeaGb26zgH1JrZ7t/H+3EF3ClIMbJkF0PoLaQFHwrWxs/AAENvoC7HUW" +
    "U84UwQPVD7Twt4GOVNs+junFh4O9d/iq/fWgIP7Q6n5pV0bA8OULjHn+RViwm4akdUIZ" +
    "s+sTmcAPljGelHWh5Zx1pSjY9zn5nF9tpMYSbhK2GeERLF9i/I5U2xet+JbStEh079p6" +
    "7Ey0v1wAU/HM27n+h6aLxxyElQnK0HzHwG+Y5YPfz+b8C7pw6Q7Ldq64Y2U6i5fOa0mn" +
    "7pwiuh+0BaXAbbFAUhMRvGAayJhaXddYYPq42gHLwHkkSIXoHyHI6HxOZV/ELTQJlTPS" +
    "tsMs6LB2Tnv7tZ8Rji8OPGV9n1Kuq+kkloxrYQ1Qk7gDJ2YVVpcOBOACQ27W0gFr3Je/" +
    "aiMizbruzAx4AXrwJDH96PdaFC/j3vdUvrPvlIorNv7a1qC77vVuDAfI4DFjkDfMNs0b" +
    "P5oVpmjapYeeCn4fUuEFzGMeqNnF3xbJMKyz9GRu2LkTiLiwnzi6vtvQrd9xZthl8F2A" +
    "gDQoil18esH/Ux7dcb94FLfnjnJRiM116ARcbOm233cqj79FkXIUYZZIdtqoFlCX+z/R" +
    "IAtKvl1WHqAinPvEs55sr1mt4mxyYpyUdzsx1mMcY4VL3QS8Mv2PGPXR1+5YOSYblHQG" +
    "mWP0zGJdWjPMNqpwyIZLxW+h3j9yfvDUEO4Q3B0pLvLzhDLRfn+PSRb2xtgFgLXONmwN" +
    "/DVFvp1ToxhOsDw9D91lRvOjTymF5oosWfU99H33MhNbLrJ6gQ02RrFvk0NCbQX3TDYA" +
    "Igm6cYRamAoozp+WXUYWQSz8Xv85e91iJMEcXWmh34cPitKvHwljhfLDpslqvfh/NiRk" +
    "gHvG0cbrHx8um0J+hT6ZIUA8v0/WGkVdLTDFDmR2j0PxsRddAFUF7mdOH+e4e8owvBzY" +
    "83x7SAsVunatxZFM6GYEj5vQFsc1De9ifjs5NGZ9SVruwF2p4cgt2E32wKUBjS0baU0q" +
    "eucC7RyQCDeP1ToJw8JackIburi+/2JcN6kuAiubhqR1rwZXO6tt/zwJaKLDoWOFS0mF" +
    "c7ey4f2p7VkbwImFLSjgri/FaRmzY2hwIwvQO//yXJguxqpL/Ep2iIxo0+7+v3UyO7WI" +
    "RnhyZsT+ZB6jsFq/rgxJF7yicQ8ci0oRmQ6WWB2rSRH2Q7xdKJSiJNLjxkWZ0Bdh7jSn" +
    "d+uqsfz9/sJwPljYYs7R0NZBce1x7ehCcQtq4lp2MI1v4v5O88rO1NfltuLKFN7WDhPh" +
    "xzoGNcvwF2zaVfoPB/ZqMIhGeHJmMes7YAhv4v5OzH0XTv8wgGyK/nc0e02E9JgTk3St" +
    "E4TwnfJFpqPeeNEITWHp9fAdjCz+1Kb8UVzJyCSHC/Hf0YDcxaPvk0hRm0KjvtT/U3fP" +
    "qY0RM7VehSQdieFrJZxLS9gFgLXONtj6MwUmDSZh3VsBS3JT9PTQizTTLOmjSfrh6eUQ" +
    "8N31Q0uzcwPi4nrfdMXSbfhTqiVwmVYOLP3u5HLbi7aoOGdnDC6PKP0wzvNN6nxisTbT" +
    "3vZgf2DL477nltDAdVuctXvMN81nK6QB2yHyeaE9iAgVOSiHKLGBc49/GHvqWrenD62u" +
    "I+V1GyNG1Xo2AL9m9E2w8Hgrgv5LG/qbS6A2eGRFdyUNOsg2WUdZNeYb7V4hg/cbd2lt" +
    "zksJxEo/UzHftPJ7L1va2+sd3mjUEfUiAGkvf3kkGM2ysV1NzV4dgU4nntVsvCzgUnNO" +
    "JA8jBx8lStlTEmpCPrmPrXPB9/UbSd+914uEYU+UB/b+Q1F3vUlthKqShvc41qUHUHgb" +
    "zboCxng/oGF12JejC3vquQEVMcqDKPkIY2f4zjRt00RPBT+QKYQWr+MRUTf9jHZwJgZw" +
    "2GuzWCPHQRZFYQFxn06FQF3PDlfS7QrtXQc8tBdb0YoWBTRXQrsQz51++H5sUVHepmZv" +
    "EdPXP9cNJKMGqwUM6e26uMEUhElaR7IosiQwM1kgJm1kyfnkHn2EXi1iTYDLLV9e04+0" +
    "KkvWHg4JCFpvqZTIUKbilDmpZ2G2ZQG1JIcfWKS8ks0K8VDmI6TosaStfkEsEHdRLBFq" +
    "JEVkj49SsEU1XnjMOWiz0qb9WCm6Yp/ycUM6iB0W3mDi+44pS4VpVxacpa36vm3/NJVw" +
    "vsG88dwTPawS37BwisQ1cncsHd2YZUn4F3j01k7rmQIjUer9r7Dy+3VIBjgyugR0K9KL" +
    "2rIB3q99S7+r6hhopL2GDKMtEo2IlbmoaABqysuzpl25w1Sv96OpozbQUDicAYdq+HzX" +
    "Klx4yavddMZsTLEeQxpsMWlN0fN1scSa2JkDysufPwTGR4AJW89o5OowHaFwL7A4ux5z" +
    "P7b9ZrZhX+oAqrzoHlCBRXxCSt5v4yGyHGZqtHfxU5c47YBonzSqy1aejrD9t989naXM" +
    "hzKVm4f1iiN/dPytQQ7vZQxaiwg9AHBS9Y8cxbaFEd/+ZM0iT6rSDIhniDDnEHQA1qya" +
    "42Dr9HxodZ7+97HGNSR5inFyS5QEaEzeIVzLIOUdw6R4E1coPlFy+xBp1xPhlxW7aX9x" +
    "9s0rNJOz535oIhCgH0FW8kSqjZQbu2/wePvxxkgn7/1v2v8B4gcMQMbm9rSi2jlrQoR4" +
    "GtHpw4hJBpG4mNXnRpu3vJImkG6TcCy1VFgMsITIT7MQe+aEaKLDeoJs9SnmF1hz/PvI" +
    "ZLQhoHq7Es7XyfGGG33AhmOP5jz9HMAhLeHOhKLcXqeMm3kqNAoIveGpuGYt5sc30TBD" +
    "zWxUD40wqScRFT/sPu4mLaMMbrxl0vCZDBygJGnzKllDMTfbEf2Al6PhGeruNEiaG9YM" +
    "194iUJ6kuI0nXHr3McA/gMifQQsAudAIfIY0BoZg9jgkBTflzfqIYgZmqttekAQRYEuK" +
    "amI71+MhWZaHcRtf2vhLxRYb/21rUF53e0sZYE8RHxinNxsOgvgucdWC4MkPBjqdTeBh" +
    "iNoCI4Cigv34/7l4gp61wOxQtMlVKEDrlnQF/xYny/sQCoCzM+oyjN5kF5Q0sD9yp1H7" +
    "KMAlpFME/MO8HXmp53h+lL8TN4/VzkMARhImZBLzQsj3/XlMLUJNxRSAszPqnnmBIJwz" +
    "wn+r1+N52TtUgW1Diaq/dqmQqj4pg4bL3F6ok9V+3JcY8AGGGvCEbowMvvHbDAQ6wt+P" +
    "uVO1YnMCv39RsOyvf9rd/r6CX7biGa86/ePOgwiQw5ddJqnimAmOgdICdkPKZk1moYmI" +
    "RtUhr4603fLf+nXvgFlhs2r1K6iwBG78Lo403BHShCO9Nn6AghtgzcpjeckEgaUSMNlM" +
    "XOBkFvlUY0QqzRYWL4m+zdwDQvAf0i4raaSqH0ckCMUE0ce1kKR7cr0dftJSBNPOgRRR" +
    "vg5pRXPwdcbF05BbpGwEPnP12L47h1dh/7WXFRmsA1C6LcJYEu+4z4Eq38ZlliisCPOO" +
    "HvMVh1ZWb8n+DYmdEyTm8ZhkohIIpWXzAFf5VJP8r0KESGJML0k4nKgBjJPPzj0jlwIf" +
    "z42mUuUtN4Mla+mlE9dSbR6AEn1/NlbpXy7eaTTRRURzNy8r5YPmeMzMe3wCxULh5Gx2" +
    "HobVNNlGps3Tix/Sh7FICZyD94dkNJ5/dI/ACT9Am2H/ht5W9tnbb5+cDL1kMuA7/oJD" +
    "lJYIqe2ng9Fm6P/pbRQLppA1AByc+2stcQB/wJxeyu7X8jAjva7TV+Xk4Kl5sUXnzGLK" +
    "R9fCaYfP7m40zhCs/zXMzjU+rvmE4akPbP30amFI3X0YQtFINB/fAfLsdLaUfvK7tYt7" +
    "EOZolEk63gGWKpOtIzNoXhSaeN7bE+QlNA09VsGYU//TxPWyuwODeutUuZ14ydpurMpg" +
    "xKlGhAZ3X2PGa8XMPeeQh3I8Qq8x2zMBEQlg99NwoEaBwzyqIzUCqk5gB8hp3SA/+G6y" +
    "jReKf+z4kdhumv1UbDx5minJSQM="

  // ---- raw regenerators matching the fixture-encoder inputs exactly
  private def rawA: Array[Byte] =
    ("the quick brown fox jumps over the lazy dog. " * 20)
      .getBytes("UTF-8")
  private def rawJson: Array[Byte] = {
    val items = (0 until 200).map { i =>
      val score = if (i % 2 == 0) (i / 2).toString else s"${i / 2}.5"
      s"""{"id":$i,"name":"doc-$i","score":$score}"""
    }
    ("[" + items.mkString(",") + "]").getBytes("UTF-8")
  }
  private def rawUtf8: Array[Byte] =
    ("Z\u00fcrich na\u00efve caf\u00e9 \u2014 \u6771\u4eac \u30c7\u30fc\u30bf \u30d1\u30a4\u30d7\u30e9\u30a4\u30f3\u3002" * 40)
      .getBytes("UTF-8")
  // the binary fixture's source bytes came from a JS double-precision
  // LCG (not exactly reproducible in integer math) — pinned by MD5
  private val rawRndMd5 = "d05faf9f29e6ac8b4ecb6890849e3815"

  test("real-encoder streams decode byte-exact: q1/q5/q11 dictionary-" +
    "heavy text, q9/q11 JSON (UTF8 contexts + postfix distances), " +
    "q9 multi-script UTF-8, q5 incompressible binary") {
    val cases = Seq(
      ("a_q1", fix_a_q1, rawA), ("a_q5", fix_a_q5, rawA),
      ("a_q11", fix_a_q11, rawA),
      ("json_q9", fix_json_q9, rawJson),
      ("json_q11", fix_json_q11, rawJson),
      ("utf8_q9", fix_utf8_q9, rawUtf8))
    cases.foreach { case (name, fix, raw) =>
      val dec = Multimodal.unbrotli(b64(fix))
        .getOrElse(fail(s"$name did not decode"))
      assert(java.util.Arrays.equals(dec, raw), name)
    }
    val rnd = Multimodal.unbrotli(b64(fix_rnd_q5))
      .getOrElse(fail("rnd_q5 did not decode"))
    assert(rnd.length == 4096)
    val md = java.security.MessageDigest.getInstance("MD5")
    assert(md.digest(rnd).map("%02x".format(_)).mkString == rawRndMd5)
  }

  test("framing corners: the canonical empty stream, garbage, " +
    "truncated prefixes, and the bomb cap") {
    assert(Multimodal.unbrotli(Array(0x3b.toByte)).exists(_.isEmpty))
    assert(Multimodal.unbrotli(Array.emptyByteArray).isEmpty)
    assert(Multimodal.unbrotli("not brotli at all".getBytes).isEmpty ||
      Multimodal.unbrotli("not brotli at all".getBytes).isDefined)
    val full = b64(fix_json_q9)
    (1 until full.length by 37).foreach { n =>
      Multimodal.unbrotli(full.take(n)) // must never throw
    }
    assert(Multimodal.unbrotli(full.take(full.length - 5)).isEmpty)
    assert(Multimodal.unbrotli(b64(fix_a_q5), maxBytes = 16).isEmpty)
  }

  test("encoder round-trips: literals, runs, gram matches, empty, " +
    "single byte — compressed and uncompressed meta-block forms") {
    val samples = Seq(
      Array.tabulate(257)(i => (i * 7 % 251).toByte),
      "abcabcabc".getBytes ++ Array.fill(500)('x'.toByte) ++
        "the-end-the-end-the-end-the-end".getBytes,
      ("mix-42;" * 40).getBytes("UTF-8"),
      Array.emptyByteArray,
      Array(65.toByte),
      Array.tabulate(4096)(i => (i * 101 % 256).toByte))
    samples.foreach { d =>
      val c = Multimodal.brotliBytes(d)
      assert(Multimodal.unbrotli(c)
        .exists(x => java.util.Arrays.equals(x, d)), s"n=${d.length}")
      val u = Multimodal.brotliBytes(d, compress = false)
      assert(Multimodal.unbrotli(u)
        .exists(x => java.util.Arrays.equals(x, d)),
        s"uncompressed n=${d.length}")
    }
  }

  // ------------------------------------ crafted-stream behavior pins

  /** Minimal LSB-first writer (prefix-code bits MSB-first). */
  private final class W {
    private val bos = new java.io.ByteArrayOutputStream()
    private var acc = 0L; private var nb = 0
    def wr(v: Int, n: Int): Unit = {
      acc |= (v.toLong & ((1L << n) - 1)) << nb; nb += n
      while (nb >= 8) { bos.write((acc & 0xff).toInt); acc >>>= 8; nb -= 8 }
    }
    def code(c: Int, l: Int): Unit =
      (l - 1 to 0 by -1).foreach(i => wr((c >> i) & 1, 1))
    def bytes(): Array[Byte] = {
      if (nb > 0) { bos.write((acc & 0xff).toInt); acc = 0; nb = 0 }
      bos.toByteArray
    }
  }
  private val InsBase = Array(0, 1, 2, 3, 4, 5, 6, 8, 10, 14, 18, 26,
    34, 50, 66, 98, 130, 194, 322, 578, 1090, 2114, 6210, 22594)
  private val InsExtra = Array(0, 0, 0, 0, 0, 0, 1, 1, 2, 2, 3, 3, 4,
    4, 5, 5, 6, 7, 8, 9, 10, 12, 14, 24)
  private def distSym(d: Int): (Int, Int, Int) = {
    var h = 0
    while (true) {
      val nb = 1 + (h >> 1)
      val off = ((2 + (h & 1)) << nb) - 4
      if (d >= off + 1 && d <= off + (1 << nb))
        return (16 + h, nb, d - 1 - off)
      h += 1
    }
    sys.error("unreachable")
  }
  private def cmdSymbol(insCode: Int, copyCode: Int): Int = {
    val cells = Seq((2, 0, 0), (3, 0, 8), (4, 8, 0), (5, 8, 8),
      (6, 0, 16), (7, 16, 0), (8, 8, 16), (9, 16, 8), (10, 16, 16))
    cells.collectFirst {
      case (cell, io, co)
        if insCode >= io && insCode < io + 8 &&
          copyCode >= co && copyCode < co + 8 =>
        cell * 64 + ((insCode - io) << 3) + (copyCode - co)
    }.get
  }

  /** WBITS=22 stream: `ins` 'A' literals then one copy of `clen` at
    * distance `d` (long distance code), MLEN = ins + outLen.
    */
  private def craftCopy(ins: Int, clen: Int, d: Int,
                        outLen: Int): Array[Byte] = {
    val b = new W
    b.wr(1, 1); b.wr(5, 3)       // WBITS = 22
    b.wr(1, 1); b.wr(0, 1)       // ISLAST, not empty
    b.wr(0, 2); b.wr(ins + outLen - 1, 16)
    b.wr(0, 1); b.wr(0, 1); b.wr(0, 1)
    b.wr(0, 2); b.wr(0, 4)       // NPOSTFIX, NDIRECT
    b.wr(0, 2)                   // context mode LSB6
    b.wr(0, 1); b.wr(0, 1)       // NTREESL/D = 1
    b.wr(1, 2); b.wr(0, 2); b.wr(65, 8) // literal {A}: zero bits each
    val ic = (0 until 24).takeWhile(i => InsBase(i) <= ins).last
    val cc = Seq(2, 3, 4, 5, 6, 7, 8, 9).indexWhere(_ > clen) match {
      case -1 => 7; case k => k - 1 // copy codes 0..7 = lengths 2..9
    }
    b.wr(1, 2); b.wr(0, 2); b.wr(cmdSymbol(ic, cc), 10)
    val (ds, db, dv) = distSym(d)
    b.wr(1, 2); b.wr(0, 2); b.wr(ds, 6)
    b.wr(ins - InsBase(ic), InsExtra(ic))
    // copy codes 0..7 carry no extra bits
    if (db > 0) b.wr(dv, db)
    b.bytes()
  }

  test("static-dictionary addressing at pos < window is relative to " +
    "the bytes produced (reference-pinned): words, indices and the " +
    "transform pipeline") {
    def out(d: Int, n: Int): String =
      new String(Multimodal.unbrotli(craftCopy(20, 4, d, n))
        .getOrElse(fail(s"d=$d did not decode")).drop(20), "UTF-8")
    assert(out(21, 4) == "time")        // address 0 = first cl-4 word
    assert(out(21 + 61, 4) == "name")   // index 61
    assert(out(21 + 1024, 5) == "time ")   // transform 1: suffix space
    assert(out(21 + 2048, 6) == " time ")  // transform 2: both spaces
    assert(out(21 + 4 * 1024, 5) == "Time ") // transform 4: uppercase
  }

  test("short distance codes 4-15 do ring-buffer arithmetic " +
    "(reference-pinned: base last/second-to-last, deltas " +
    "-1,+1,-2,+2,-3,+3)") {
    // pattern prefill via uncompressed block, two long-code pushes
    // (100 then 200), then one short code; identify the distance from
    // the copied pattern bytes
    val expected = Seq(200, 100, 4, 11, 199, 201, 198, 202, 197, 203,
      99, 101, 98, 102, 97, 103)
    (0 until 16).foreach { k =>
      val b = new W
      b.wr(1, 1); b.wr(0, 3); b.wr(2, 3) // WBITS = 10
      b.wr(0, 1); b.wr(0, 2); b.wr(1009 - 1, 16); b.wr(1, 1)
      b.bytes()
      (0 until 1009).foreach(i => b.wr((i * 7 + 13) % 251, 8))
      b.wr(1, 1); b.wr(0, 1)
      b.wr(0, 2); b.wr(12 - 1, 16)       // three copies of 4
      b.wr(0, 1); b.wr(0, 1); b.wr(0, 1)
      b.wr(0, 2); b.wr(0, 4)
      b.wr(0, 2)
      b.wr(0, 1); b.wr(0, 1)
      b.wr(1, 2); b.wr(0, 2); b.wr(65, 8)
      b.wr(1, 2); b.wr(0, 2); b.wr(cmdSymbol(0, 2), 10)
      val s100 = distSym(100); val s200 = distSym(200)
      val used = Seq(s100._1, s200._1, k).distinct.sorted
      val dl = new Array[Int](64)
      b.wr(1, 2); b.wr(used.size - 1, 2)
      used.foreach(s => b.wr(s, 6))
      used.size match {
        case 2 => used.foreach(dl(_) = 1)
        case _ => dl(used(0)) = 1; dl(used(1)) = 2; dl(used(2)) = 2
      }
      // canonical codes over dl
      def codeOf(sym: Int): (Int, Int) = {
        val sorted = used.sortBy(s => (dl(s), s))
        var c = 0; var prev = 0
        val m = scala.collection.mutable.Map.empty[Int, (Int, Int)]
        sorted.foreach { s =>
          c = c << (dl(s) - prev); prev = dl(s)
          m(s) = (c, dl(s)); c += 1
        }
        m(sym)
      }
      Seq(s100, s200).foreach { case (ds, db, dv) =>
        val (c, l) = codeOf(ds); b.code(c, l)
        if (db > 0) b.wr(dv, db)
      }
      val (ck, lk) = codeOf(k); b.code(ck, lk)
      val dec = Multimodal.unbrotli(b.bytes())
        .getOrElse(fail(s"k=$k did not decode"))
      assert(dec.length == 1021)
      val d = expected(k)
      (0 until 4).foreach { j =>
        assert(dec(1017 + j) == dec(1017 - d + j),
          s"k=$k expected distance $d")
      }
    }
  }

  test("decompressText routes media_type \"br\" (headerless — no " +
    "magic exists to sniff) and reports undecodable brotli as a row " +
    "property") {
    val spark = SharedSpark.spark
    import spark.implicits._
    val text = "content-encoding: br payload " * 10
    val blobs = Seq(
      graft.multimodal.MediaBlob(1L, "br", Multimodal.brotliBytes(
        text.getBytes("UTF-8"))),
      graft.multimodal.MediaBlob(2L, "application/octet-stream",
        Multimodal.gzipBytes("gzipped".getBytes("UTF-8"))),
      graft.multimodal.MediaBlob(3L, "br", Array[Byte](1, 2, 3, 4)),
      graft.multimodal.MediaBlob(4L, "br", b64(fix_a_q5))).toDS()
    val rows = Multimodal.decompressText(blobs).collect()
      .map(r => r.media_id -> r).toMap
    assert(rows(1L).codec == "br" && rows(1L).decode_ok &&
      rows(1L).n_chars == text.length)
    assert(rows(2L).codec == "gzip" && rows(2L).decode_ok)
    assert(rows(3L).codec == "br" && !rows(3L).decode_ok)
    assert(rows(4L).codec == "br" && rows(4L).decode_ok &&
      rows(4L).n_chars == rawA.length)
  }
}
