SELECT EventId,
       coalesce(DamageProperty = DamageCrops, false) AS SameDamage,
       coalesce(DamageProperty <> 5000, false) AS NotFiveK,
       coalesce(DamageProperty <> DamageCrops, false) AS Differ
FROM StormEvents
ORDER BY EventId ASC NULLS FIRST
