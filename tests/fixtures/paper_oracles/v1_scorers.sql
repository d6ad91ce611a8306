WITH s AS (
    SELECT doc_id,
           lpad(CAST(doc_id * 7919 % 99991 AS VARCHAR), 5, '0') AS key,
           CAST(doc_id % 1000 AS VARCHAR) AS run_n,
           CAST(doc_id % 50 AS VARCHAR) AS mf_first
    FROM documents),
x AS (
    SELECT doc_id, key, run_n, mf_first,
           CASE WHEN doc_id % 2 = 0 THEN key
                ELSE substr(key, 2, 4) END AS digit_label,
           'key SK-' || key || ' end' AS digit_pred,
           'w' || key AS word,
           'The value is "' || 'w' || key || '".' AS kv_pred,
           'The result is: ' || run_n || '.' AS run_pred,
           CASE WHEN doc_id % 2 = 0 THEN run_n
                ELSE CAST(doc_id % 1000 + 1 AS VARCHAR) END AS run_label,
           'About ' || mf_first || ' items and later 999' AS mf_pred,
           CASE WHEN doc_id % 3 = 0 THEN mf_first
                WHEN doc_id % 3 = 1 THEN '999'
                ELSE mf_first || '.0' END AS mf_label,
           CASE WHEN doc_id % 2 = 0 THEN 'said yes'
                ELSE 'nope' END AS dia_label
    FROM s)
SELECT doc_id,
       CAST(CASE WHEN list_contains(
                string_split_regex(digit_pred, '[^0-9]'), digit_label)
            THEN 1 ELSE 0 END AS DOUBLE) AS digit_score,
       CAST(CASE WHEN list_contains(
                string_split_regex(
                    translate(kv_pred, chr(10) || ':"''.,?!{}',
                              '          '), '\s+'),
                CASE WHEN doc_id % 3 = 0 THEN word
                     ELSE substr(word, 1, 4) END)
            THEN 1 ELSE 0 END AS DOUBLE) AS kv_score,
       CAST(CASE WHEN TRY_CAST(
                list_filter(
                    string_split_regex(
                        translate(trim(run_pred),
                                  chr(10) || '.`''":', '      '),
                        '\s+'),
                    w -> w <> '')[-1] AS BIGINT)
                = TRY_CAST(run_label AS BIGINT)
            THEN 1 ELSE 0 END AS DOUBLE) AS code_run_score,
       CAST(CASE WHEN strpos(mf_label, '.') > 0
            THEN CASE WHEN CAST(regexp_extract(mf_pred, '\d+\.\d+|\d+')
                               AS DOUBLE)
                           = CAST(mf_label AS DOUBLE)
                      THEN 1 ELSE 0 END
            ELSE CASE WHEN strpos(regexp_extract(mf_pred,
                                                 '\d+\.\d+|\d+'),
                                  '.') = 0
                           AND CAST(regexp_extract(mf_pred,
                                                   '\d+\.\d+|\d+')
                                    AS BIGINT)
                               = CAST(mf_label AS BIGINT)
                      THEN 1 ELSE 0 END
            END AS DOUBLE) AS math_find_score,
       CAST(CASE WHEN strpos(upper(trim('He SAID YES clearly.')),
                             upper(dia_label)) > 0
            THEN 1 ELSE 0 END AS DOUBLE) AS dialogue_score
FROM x
