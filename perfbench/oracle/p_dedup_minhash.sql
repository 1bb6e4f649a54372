WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
sh AS (SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, len(ws) - 1),
           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
       FROM w),
hx AS (SELECT doc_id,
         CAST(('0x' || substr(md5(sh), 1, 7)) AS BIGINT) AS x
       FROM sh),
hh AS (SELECT doc_id, i,
         (list_value(7,11,13,17,19,23,29,31,37,41,43,47,53,59,61,67)[CAST(i + 1 AS INT)] * x + list_value(3,5,101,211,307,401,503,601,701,809,907,1009,1103,1201,1301,1409)[CAST(i + 1 AS INT)]) % 2147483647
           AS h
       FROM hx, (SELECT unnest(range(0, 16)) AS i)),
sig AS (SELECT doc_id, i, MIN(h) AS mh FROM hh GROUP BY doc_id, i),
bands AS (SELECT doc_id, CAST(i // 4 AS INT) AS band,
            string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS key
          FROM sig GROUP BY doc_id, CAST(i // 4 AS INT)),
small AS (SELECT band, key FROM bands GROUP BY band, key
          HAVING COUNT(*) BETWEEN 2 AND 50)
SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
FROM bands a JOIN small s ON a.band = s.band AND a.key = s.key
JOIN bands b
  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
ORDER BY d1, d2
