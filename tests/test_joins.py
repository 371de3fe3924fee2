"""Salted-join equivalence: the skew-mitigation rewrite must be
semantically invisible."""

from pyspark.sql import functions as F

from nthu_cs542200_parallel_programming_hw4_mapreduce_spark.catalog import table
from nthu_cs542200_parallel_programming_hw4_mapreduce_spark.operators.joins import (
    salted_join,
)


def test_salted_join_equals_plain_join(spark, sf_dir):
    orders = table(spark, sf_dir, "orders")
    customer = table(spark, sf_dir, "customer")
    plain = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n"))
    )
    salted = (
        salted_join(orders, customer, "o_custkey", "c_custkey", salt=4)
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n"))
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))
