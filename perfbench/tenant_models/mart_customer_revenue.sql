{{ config(materialized='table') }}
SELECT c.c_custkey, c.c_mktsegment,
       CAST(COUNT(DISTINCT o.o_orderkey) AS BIGINT) AS n_orders,
       CAST(COUNT(l.l_orderkey) AS BIGINT) AS n_lines,
       SUM(CAST(l.l_extendedprice AS DECIMAL(12, 2))
           * (1 - CAST(l.l_discount AS DECIMAL(4, 2)))) AS revenue
FROM {{ source('raw', 'customer') }} c
JOIN {{ ref('stg_orders') }} o ON o.o_custkey = c.c_custkey
LEFT JOIN {{ source('raw', 'lineitem') }} l ON l.l_orderkey = o.o_orderkey
GROUP BY c.c_custkey, c.c_mktsegment
