"""Scalar function library (SURVEY.md §2.8) — native-expression
rewrites of the reference's string/regex/cast/JSON cleaning steps.
Everything here is a Column→Column builder (JVM-side, codegen'd);
UDF-free by policy (§2.10 U1/U2).
"""
