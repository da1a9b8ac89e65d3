"""UCC / AUCC verification — mirrors /root/reference/examples/verifying_ucc.py
and verifying_aucc.py: key check with violating-cluster evidence, then the
approximate variant with an error threshold."""

from __future__ import annotations

from desbordante_spark.operators.ucc import ucc_verify


def main(spark, sf_dir: str = "/root/testdata/sf0.001") -> None:
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    res = ucc_verify(lineitem, ["l_orderkey", "l_linenumber"])
    print(f"UCC (l_orderkey, l_linenumber) holds: {res.holds}")

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    res2 = ucc_verify(orders, ["o_custkey"])
    print(f"UCC (o_custkey) holds: {res2.holds}, error={res2.error:.6f}")
    if not res2.holds:
        for r in res2.violations.limit(3).collect():
            print(f"  duplicate cluster o_custkey={r['o_custkey']} "
                  f"x{r['cnt']}")
        aucc = ucc_verify(orders, ["o_custkey"], error_threshold=res2.error)
        print(f"AUCC with threshold {res2.error:.6f} holds: {aucc.holds}")


if __name__ == "__main__":
    from desbordante_spark.session import get_spark

    main(get_spark(app_name="example-ucc"))
