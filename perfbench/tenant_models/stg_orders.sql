{{ config(materialized='table') }}
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, updated_at
FROM {{ source('raw', 'orders') }}
WHERE tenant = '{{ var("tenant") }}'
