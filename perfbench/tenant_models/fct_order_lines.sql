{{ config(materialized='incremental', unique_key='o_orderkey') }}
SELECT o.o_orderkey, o.o_orderstatus, o.o_totalprice, o.updated_at,
       CAST(COUNT(l.l_orderkey) AS BIGINT) AS n_lines,
       SUM(l.l_quantity) AS quantity
FROM {{ ref('stg_orders') }} o
LEFT JOIN {{ source('raw', 'lineitem') }} l ON l.l_orderkey = o.o_orderkey
{% if is_incremental() %}
WHERE o.updated_at > (SELECT max(updated_at) FROM {{ this }})
{% endif %}
GROUP BY o.o_orderkey, o.o_orderstatus, o.o_totalprice, o.updated_at
